"""Tests of the benchmark itself: run with ``python3 -m pytest perfbench -q``
from the repository root. The smoke tests start Spark and take minutes."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import gen  # noqa: E402


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = gen.materialize(str(tmp_path / "a"), "tiny", 5)
    b = gen.materialize(str(tmp_path / "b"), "tiny", 5)
    c = gen.materialize(str(tmp_path / "c"), "tiny", 6)
    assert a["sha256"] == b["sha256"] == gen.input_hash(b["dir"])
    assert a["truth"] == b["truth"]
    assert c["sha256"] != a["sha256"]


def test_generator_shares():
    size = gen.SIZES["tiny"]
    tables, truth = gen.generate(size, 3)
    assert len(tables["frames"]) == truth.frames == size.frames
    assert truth.store_rows == size.frames - truth.rejected - truth.duplicates
    assert truth.rejected == round(size.frames * size.reject_share)
    assert truth.duplicates == round(size.frames * size.dup_share)


def test_expected_alerts_by_hand():
    gap_us = gen.ALERT_GAP_MS * 1000
    mac = np.array([0, 0, 0, 1])
    ts = np.array([0, 60_000_000, 60_000_000 + gap_us + 1000, 100 * gap_us])
    # device 0: arrival, a silence 1 ms longer than the gap (departure and
    # arrival), then a final departure once the watermark passes it;
    # device 1 sets the final watermark, so it arrives and stays present
    assert gen.expected_alerts(mac, ts) == 1 + 2 + 1 + 1
    assert gen.expected_alerts(mac, ts - np.array([0, 0, 1000, 0])) == 1 + 1 + 1


def test_registry_tables_match_the_test_data_schema():
    tables, _ = gen.generate(gen.SIZES["tiny"], 3)
    events, embeddings = tables["events"], tables["embeddings"]
    assert events.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert str(events.schema.field("ts").type) == "timestamp[us]"
    assert embeddings.column_names == ["vec_id", "embedding", "label"]
    vec = np.stack(embeddings.column("embedding").to_numpy(zero_copy_only=False))
    assert vec.shape == (gen.SIZES["tiny"].vectors, gen.VECTOR_DIM)
    assert np.allclose(np.linalg.norm(vec, axis=1), 1.0, atol=1e-5)


def test_store_reads_follow_partition_subdirectories(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import workloads as wl

    flat, dated = tmp_path / "flat", tmp_path / "dated"
    flat.mkdir()
    pq.write_table(pa.table({"mac": ["A", "B"]}), flat / "part-0.parquet")
    pq.write_table(pa.table({"mac": ["C"]}), flat / "part-1.parquet")
    for day, macs in (("2024-07-21", ["A", "B"]), ("2024-07-22", ["C"])):
        (dated / f"obs_date={day}").mkdir(parents=True)
        pq.write_table(pa.table({"mac": macs}), dated / f"obs_date={day}" / "part-0.parquet")
    inputs = {n: str(tmp_path / f"{n}.parquet") for n in ("sensors", "watchlist")}
    inputs["tables"] = str(tmp_path)
    for name in ("sensors", "watchlist", "events", "embeddings"):
        pq.write_table(pa.table({"x": [1]}), tmp_path / f"{name}.parquet")
    for store in (flat, dated):
        assert wl.parquet_rows(str(store)) == 3
        assert wl.store_layout(str(store))[0] == 2
        con = wl.duck_connect(inputs, str(store))
        assert con.execute("SELECT count(DISTINCT mac) FROM obs").fetchone()[0] == 3


def test_materialized_ctes_keep_the_rows():
    import duckdb
    import workloads as wl

    sql = "WITH a AS (SELECT range AS x FROM range(5)), b AS (SELECT x * 2 AS y FROM a) SELECT x, y FROM a, b ORDER BY 1, 2"
    rewritten = wl.materialized_ctes(sql)
    assert rewritten.count("AS MATERIALIZED (") == 2
    con = duckdb.connect()
    assert con.execute(rewritten).fetchall() == con.execute(sql).fetchall()


def test_descendants_of_follows_nesting():
    import observe

    spans = [
        {"id": 0, "name": "warmup", "parent": None},
        {"id": 1, "name": "pass", "parent": None},
        {"id": 2, "name": "streaming.ingest", "parent": 1},
        {"id": 3, "name": "inner", "parent": 2},
        {"id": 4, "name": "operators.interests", "parent": None},
    ]
    assert observe.descendants_of(spans, "pass") == {1, 2, 3}


def _run(args, cwd):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=900
    )
    return proc


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_smoke_prints_every_metric_with_its_unit(workload, trace):
    proc = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace, "--size", "tiny"], ROOT)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = _spec()["per_layer" if trace == "1" else "end_to_end"]
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    spec = _spec()
    proc = _run(
        ["--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"], str(tmp_path)
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
