"""The layer calls the benchmark times, and the checks on their outputs.

Every call goes through the engine's public functions. Output checks run
outside the timed sections: the probe pipeline against the generator's
ground truth, the store operators against DuckDB over the same files, the
registry queries against their registered DuckDB oracles.
"""

from __future__ import annotations

import glob
import os
import re
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from check_correctness import df_multiset

from ssidentity_spark import io as store_io
from ssidentity_spark import registry
from ssidentity_spark.operators import analytics
from ssidentity_spark.operators.trilateration import trilaterate
from ssidentity_spark.parse import parse_observations
from ssidentity_spark.streaming.alerts import presence_alerts_auto, state_v2_available
from ssidentity_spark.streaming.ingest import ingest_stream, read_frame_stream, read_observation_stream

# trilaterate solves one small least-squares problem per (device, 30 s
# window) in a Python worker, milliseconds each; it tracks the watchlisted
# devices over ten minutes, about a hundred groups, so that one operator
# round stays a few seconds long
def _tracked(obs, d):
    lo = pd.Timestamp(gen.TRACK_START_US, unit="us", tz="UTC")
    window = (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(lo + pd.Timedelta(microseconds=gen.TRACK_US)))
    return analytics.watchlist_hits(obs, d["watchlist"]).filter(window)


OPERATORS = {
    "interests": lambda obs, d: analytics.interests(obs),
    "active_hours": lambda obs, d: analytics.active_hours(obs),
    "network_tree": lambda obs, d: analytics.network_tree(obs),
    "top_ssids": lambda obs, d: analytics.top_ssids(obs),
    "dedup_observations": lambda obs, d: analytics.dedup_observations(obs),
    "sessionize": lambda obs, d: analytics.sessionize(obs),
    "arrivals": lambda obs, d: analytics.arrivals(obs),
    "co_occurrence": lambda obs, d: analytics.co_occurrence(obs),
    "watchlist_hits": lambda obs, d: analytics.watchlist_hits(obs, d["watchlist"]),
    "trilaterate": lambda obs, d: trilaterate(_tracked(obs, d), d["sensors"]),
}

# DuckDB restatements over views ``obs``, ``watchlist`` and ``sensors``.
# For trilaterate only the group keys and sensor counts are restated; the
# solved positions are checked for being finite.
_SESSIONS = """
WITH f AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap_us}
            THEN 1 ELSE 0 END AS new_sess
  FROM obs WINDOW w AS (PARTITION BY mac ORDER BY ts))
"""
ORACLES = {
    "interests": "SELECT mac, list_sort(list_distinct(list(ssid))) AS ssids, count(DISTINCT ssid) AS n_ssids, "
    "count(*) AS n_probes FROM obs GROUP BY mac",
    "active_hours": "SELECT mac, hour(ts) AS hr, isodow(ts) AS dow, count(*) AS n FROM obs GROUP BY ALL",
    "network_tree": "SELECT ssid, list_sort(list_distinct(list(mac))) AS clients, count(DISTINCT mac) AS n_clients, "
    "count(*) AS n_probes FROM obs GROUP BY ssid",
    "top_ssids": "SELECT ssid, count(DISTINCT mac) AS n_devices, count(*) AS n FROM obs GROUP BY ssid "
    "ORDER BY n_devices DESC, n DESC, ssid LIMIT 10",
    "dedup_observations": "SELECT DISTINCT * FROM obs",
    "sessionize": _SESSIONS.format(gap_us=15 * 60 * 10**6)
    + """, g AS (SELECT *, sum(new_sess) OVER (PARTITION BY mac ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id FROM f)
    SELECT mac, session_id, min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_probes,
           list_sort(list_distinct(list(sensor_id))) AS sensors FROM g GROUP BY mac, session_id""",
    "arrivals": _SESSIONS.format(gap_us=30 * 60 * 10**6)
    + "SELECT mac, ts, sensor_id, rssi, dist FROM f WHERE new_sess = 1",
    "co_occurrence": """
    WITH b AS (SELECT DISTINCT mac, sensor_id, epoch_us(ts) // 30000000 AS w FROM obs)
    SELECT a.mac AS mac_a, c.mac AS mac_b, count(DISTINCT a.w) AS n_cowindows
    FROM b a JOIN b c ON a.sensor_id = c.sensor_id AND a.w = c.w AND a.mac < c.mac GROUP BY 1, 2""",
    "watchlist_hits": "SELECT * FROM obs WHERE mac IN (SELECT mac FROM watchlist)",
    "trilaterate": "SELECT mac, make_timestamp((epoch_us(ts) // 30000000) * 30000000) AS window_start, "
    "count(DISTINCT sensor_id) AS n_sensors FROM obs WHERE mac IN (SELECT mac FROM watchlist) "
    f"AND epoch_us(ts) >= {gen.TRACK_START_US} AND epoch_us(ts) < {gen.TRACK_START_US + gen.TRACK_US} "
    "AND dist IS NOT NULL AND NOT isnan(dist) GROUP BY 1, 2",
}
_TRILAT_SOLVED = ("lat", "lon", "rmse_m")

# registered bench queries over the generated ``events`` and ``embeddings``:
# the exact mutual-kNN build and its peel loop, the integer profile pair
# join, and a power iteration whose cost is mostly per-job overhead
HEADLINERS = ("graph_kcore", "id_behavior_linkage", "graph_pagerank")


class Dirs:
    """Fresh, never reused directories under one run's work dir."""

    def __init__(self, root: str):
        self.root = root
        self.n = 0

    def new(self, name: str) -> str:
        self.n += 1
        return os.path.join(self.root, f"{name}-{self.n}")


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def ingest(spark, tracer, dirs: Dirs, drop: str) -> dict:
    """Replay ``drop`` through the streaming ingest into a fresh store."""
    store = dirs.new("store")
    with tracer.span("streaming.ingest"):
        t = time.perf_counter()
        q = ingest_stream(read_frame_stream(spark, drop), store, dirs.new("ingest-ckpt"))
        q.awaitTermination()
        wall = time.perf_counter() - t
    return {"wall_s": wall, "progress": q.recentProgress, "store": store}


def alerts(spark, tracer, dirs: Dirs, store: str) -> dict:
    """Read ``store`` as a stream through the presence alerts into parquet."""
    out = dirs.new("alerts")
    with tracer.span("streaming.alerts"):
        t = time.perf_counter()
        stream = presence_alerts_auto(read_observation_stream(spark, store))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", dirs.new("alerts-ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t
    return {"wall_s": wall, "progress": q.recentProgress, "out": out, "rows": parquet_rows(out)}


def data_files(path: str) -> list[str]:
    """Parquet data files under ``path``, in any partition subdirectory."""
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in data_files(path))


def check_store(truth, store: str) -> list[str]:
    """Store rows against the generator's ground truth."""
    rows = parquet_rows(store)
    if rows != truth.store_rows:
        return [f"store rows {rows} != accepted minus duplicates {truth.store_rows}"]
    return []


def check_alerts(truth, al: dict) -> list[str]:
    """Alert count against the generator's ground truth."""
    if al["rows"] != truth.alerts:
        return [f"alerts {al['rows']} != pandas count {truth.alerts}"]
    return []


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_engine(spark, path: str, cores: int) -> None:
    """Harness warm-up, the same on both workloads and no engine call: a
    parquet round trip, a shuffle aggregation and an Arrow round trip
    through a Python worker on every core. The timed pass then pays
    neither the session's first-job class loading nor the workers' start."""
    df = spark.range(0, 50_000, numPartitions=cores).selectExpr("id % 101 AS k", "CAST(id AS DOUBLE) AS v")
    df.write.parquet(path)
    back = spark.read.parquet(path)
    back.groupBy("k").agg(F.sum("v")).collect()
    noop(back.mapInPandas(lambda batches: batches, back.schema))


def operator_round(tracer, dirs: Dirs, obs, dims) -> tuple[dict[str, float], dict[str, str]]:
    """Every operator evaluated once into its own fresh parquet directory.

    Returns the wall time and the output directory of each operator.
    """
    times, outs = {}, {}
    for name, op in OPERATORS.items():
        outs[name] = dirs.new(name)
        with tracer.span(f"operators.{name}"):
            times[name] = timed(lambda: op(obs, dims).write.parquet(outs[name]))
    return times, outs


def headliner_round(spark, tracer, tables: str) -> tuple[dict[str, tuple[float, float]], dict]:
    """Every headliner built (the ``spec.fn`` call, with the eager jobs it
    launches) and then evaluated to the noop sink.

    Returns each query's (build, action) wall times and its DataFrame.
    """
    specs = registry.bench_queries()
    times, frames = {}, {}
    for name in HEADLINERS:
        with tracer.span(f"plans.{name}.build"):
            t = time.perf_counter()
            frames[name] = specs[name].fn(spark, tables)
            build = time.perf_counter() - t
        with tracer.span(f"plans.{name}.action"):
            times[name] = (build, timed(lambda: noop(frames[name])))
    return times, frames


def _canon(df: pd.DataFrame, drop: tuple[str, ...] = ()) -> pd.DataFrame:
    """One representation for both engines' results: columns by name,
    timestamps as µs since the epoch, lists as joined strings, integers
    as int64."""
    out = {}
    for c in sorted(df.columns):
        if c in drop:
            continue
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]").astype("int64")
        elif s.dtype == object and len(s) and isinstance(s.iloc[0], (list, np.ndarray)):
            s = s.map(lambda v: "\x1f".join(map(str, v)))
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        out[c] = s.reset_index(drop=True)
    return pd.DataFrame(out)


def result_hash(df: pd.DataFrame) -> int:
    """Order-insensitive hash of a canonical frame."""
    return int(pd.util.hash_pandas_object(df, index=False).to_numpy().sum(dtype=np.uint64))


def duck_connect(inputs: dict, store: str):
    """DuckDB over the store (``obs``, any partition layout), the dimension
    tables and the registry queries' tables."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW obs AS SELECT * FROM read_parquet('{store}/**/*.parquet', hive_partitioning = true)")
    for name in ("sensors", "watchlist"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{inputs[name]}')")
    for name in ("events", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{inputs['tables']}/{name}.parquet')")
    return con


def check_operators(con, outs: dict[str, str]) -> list[str]:
    """Row count and order-insensitive hash of every operator's written
    result against DuckDB over the same store files."""
    bad = []
    for name, path in outs.items():
        got = pq.read_table(path).to_pandas()
        want = con.execute(ORACLES[name]).df()
        drop = _TRILAT_SOLVED if name == "trilaterate" else ()
        if name == "trilaterate" and not np.isfinite(got[list(_TRILAT_SOLVED)].to_numpy(float)).all():
            bad.append("trilaterate: non-finite position")
        if len(got) != len(want):
            bad.append(f"{name}: {len(got)} rows, duckdb {len(want)}")
        elif result_hash(_canon(got, drop)) != result_hash(_canon(want)):
            bad.append(f"{name}: result hash differs from duckdb")
    return bad


def materialized_ctes(sql: str) -> str:
    """``sql`` with every common table expression evaluated once.

    DuckDB inlines a CTE at each reference, so graph_pagerank's oracle, a
    chain of six rounds that each read the one before twice, takes 15 s
    on a 4-core host whatever the input size. Materializing changes the
    plan, not the rows: over the generated tables all three headliners'
    oracles return the same multiset either way, the pagerank one in well
    under a second.
    """
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def check_headliners(con, frames: dict) -> list[str]:
    """Each headliner's result against its registered DuckDB oracle, with
    the comparison ``tools/check_correctness.py`` makes: column names, row
    count and the order-insensitive multiset of canonical values."""
    bad = []
    for name, df in frames.items():
        rows, cols = [tuple(r) for r in df.collect()], list(df.columns)
        cur = con.execute(materialized_ctes(registry.REGISTRY[name].oracle))
        want_cols, want = [d[0] for d in cur.description], cur.fetchall()
        if sorted(cols) != sorted(want_cols):
            bad.append(f"{name}: columns {sorted(cols)}, oracle {sorted(want_cols)}")
        elif len(rows) != len(want):
            bad.append(f"{name}: {len(rows)} rows, oracle {len(want)}")
        elif df_multiset(cols, rows) != df_multiset(want_cols, want):
            bad.append(f"{name}: values differ from the oracle")
    return bad


def parse_batch(spark, tracer, drop: str) -> tuple[float, int]:
    """Batch parse of the drop dir: wall time to noop, accepted rows."""
    frames = spark.read.parquet(drop)
    with tracer.span("parse.batch"):
        wall = timed(lambda: noop(parse_observations(frames)))
    return wall, parse_observations(frames).count()


def scan(spark, tracer, store: str) -> float:
    with tracer.span("io.scan"):
        return timed(lambda: noop(store_io.read_observations(spark, store)))


def store_layout(store: str) -> tuple[int, float]:
    """Number of data files and bytes per row of a store."""
    files = data_files(store)
    return len(files), sum(os.path.getsize(f) for f in files) / max(parquet_rows(store), 1)


def alert_engine(spark) -> str:
    return "state-v2" if state_v2_available(spark) else "applyInPandasWithState"
