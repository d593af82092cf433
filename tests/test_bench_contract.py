"""bench.py driver-contract pins (no Spark session needed).

The compact stdout line must keep ``queries`` — the one field the driver's
per-query comparison parses — under any budget, shedding only the flag
lists. The baseline is derived from ``bench_history/``: only artifacts with
the run's ``sf`` and ``cpus`` count, the newest is ``prev`` and ``best`` is
the per-query minimum over all of them. A flag needs the median delta to
exceed the two artifacts' summed stddev wherever both record one.
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _compact(n_queries: int = 22, n_flags: int = 19) -> dict:
    names = [f"query_{i:02d}_with_a_realistic_name" for i in range(n_queries)]
    flagged = names[:n_flags]
    return {
        "metric": "headline-queries wall time (noop sink, local)",
        "value": 40.99,
        "unit": "sec",
        "sf": 0.1,
        "cpus": 4,
        "queries": {n: round(0.1 * i, 2) for i, n in enumerate(names)},
        "prev": "20261019T063000Z_ed7b22f_sf0.1_c4.json",
        "regressions_over_1.3x": flagged,
        "regressions_over_1.3x_vs_best": flagged,
        "full_artifact": "bench_history/20261019T064500Z_ed7b22f_sf0.1_c4.json",
    }


def test_compact_line_fits_without_shedding_at_current_size():
    # the honest steady state: 22 headliners, no flags -> everything fits
    c = _compact(n_flags=0)
    line = bench.compact_line(c)
    parsed = json.loads(line)
    assert len(line) <= 1900
    assert len(parsed["queries"]) == 22
    assert "regressions_over_1.3x" in parsed


def test_compact_line_never_sheds_queries():
    # r12's failure shape: 19 flags in both lists
    c = _compact()
    line = bench.compact_line(c)
    parsed = json.loads(line)
    assert len(line) <= 1900
    # the driver-parsed field survives with every entry
    assert len(parsed["queries"]) == 22
    assert all(isinstance(v, float) or isinstance(v, int)
               for v in parsed["queries"].values())
    # shed fields are replaced by counts, not silently dropped
    for shed in bench.FLAG_LISTS:
        if shed not in parsed:
            assert parsed[f"n_{shed}"] == 19


def test_compact_line_sheds_only_the_flag_lists():
    c = _compact()
    bench.compact_line(c, budget=1)  # force maximal shedding
    assert "queries" in c and "prev" in c  # never touched
    assert "regressions_over_1.3x" not in c
    assert "regressions_over_1.3x_vs_best" not in c
    assert c["n_regressions_over_1.3x"] == 19
    assert c["n_regressions_over_1.3x_vs_best"] == 19


def _record(
    hist, name, queries, sf=0.1, cpus=4, utc="2026-10-19T06:00:00+00:00", stddev=None
):
    art = {"sf": sf, "queries": queries, "utc": utc}
    if cpus is not None:
        art["cpus"] = cpus
    if stddev is not None:
        art["per_query"] = {
            n: {"median": t, "stddev": stddev[n]} for n, t in queries.items()
        }
    (hist / name).write_text(json.dumps(art))


def _run(medians, stddev=0.0):
    """This run's per-query records, as main() passes them to compare()."""
    return {n: {"median": t, "stddev": stddev} for n, t in medians.items()}


def test_baseline_is_the_newest_matching_artifact_and_best_the_minimum(tmp_path):
    _record(tmp_path, "old.json", {"a": 1.0, "b": 4.0}, utc="2026-10-19T06:00:00+00:00")
    _record(tmp_path, "new.json", {"a": 2.0, "b": 3.0}, utc="2026-10-19T07:00:00+00:00")
    # same sf, other core count: a different machine's numbers
    _record(tmp_path, "c8.json", {"a": 0.1, "b": 0.1}, cpus=8, utc="2026-10-19T08:00:00+00:00")
    # legacy artifact with no cpus field
    _record(tmp_path, "legacy.json", {"a": 0.1, "b": 0.1}, cpus=None, utc="")
    # same cpus, other scale factor
    _record(tmp_path, "sf1.json", {"a": 0.1, "b": 0.1}, sf=1.0, utc="2026-10-19T09:00:00+00:00")

    out = bench.compare(_run({"a": 2.4, "b": 4.2}), str(tmp_path), 0.1, 4)
    assert out["prev"] == "new.json"
    assert out["n_baseline_runs"] == 2
    assert out["best"] == {"a": 1.0, "b": 3.0}
    assert out["ratio_vs_prev"] == {"a": 1.2, "b": 1.4}
    assert out["ratio_vs_best"] == {"a": 2.4, "b": 1.4}
    assert out["regressions_over_1.3x"] == ["b"]
    assert out["regressions_over_1.3x_vs_best"] == ["a", "b"]


def test_no_matching_artifact_means_no_baseline_and_no_flags(tmp_path):
    _record(tmp_path, "c8.json", {"a": 0.1}, cpus=8)
    _record(tmp_path, "legacy.json", {"a": 0.1}, cpus=None)
    out = bench.compare(_run({"a": 9.9}), str(tmp_path), 0.1, 4)
    assert out["prev"] is None
    assert out["best"] == {}
    assert out["ratio_vs_prev"] == out["ratio_vs_best"] == {}
    assert out["regressions_over_1.3x"] == []
    assert out["regressions_over_1.3x_vs_best"] == []


def test_slowdown_inside_both_runs_spread_is_not_flagged(tmp_path):
    # two back-to-back runs of identical code: 0.469 -> 0.616 s is 1.31x,
    # but the 0.147 s delta is inside the summed stddevs 0.118 + 0.087
    _record(tmp_path, "prev.json", {"pipe_decontaminate": 0.469},
            stddev={"pipe_decontaminate": 0.118})
    out = bench.compare(_run({"pipe_decontaminate": 0.616}, stddev=0.087),
                        str(tmp_path), 0.1, 4)
    assert out["ratio_vs_prev"] == {"pipe_decontaminate": 1.31}
    assert out["regressions_over_1.3x"] == []
    assert out["regressions_over_1.3x_vs_best"] == []


def test_doubling_beyond_a_small_spread_is_flagged(tmp_path):
    _record(tmp_path, "prev.json", {"a": 0.5}, stddev={"a": 0.02})
    out = bench.compare(_run({"a": 1.0}, stddev=0.03), str(tmp_path), 0.1, 4)
    assert out["regressions_over_1.3x"] == ["a"]
    assert out["regressions_over_1.3x_vs_best"] == ["a"]


def test_artifact_without_per_query_flags_on_the_ratio_alone(tmp_path):
    # no recorded stddev on the baseline side: the 1.3x ratio decides,
    # however wide this run's own spread
    _record(tmp_path, "legacy_c4.json", {"a": 0.469})
    out = bench.compare(_run({"a": 0.616}, stddev=0.5), str(tmp_path), 0.1, 4)
    assert out["regressions_over_1.3x"] == ["a"]
    assert out["regressions_over_1.3x_vs_best"] == ["a"]


def test_artifact_name_carries_time_sha_sf_and_cpus():
    utc = datetime(2026, 10, 19, 6, 30, 5, tzinfo=timezone.utc)
    sha = "ed7b22fee960111e01a48538d5ddcdcea98d1ca6"
    assert bench.artifact_name(utc, sha, 0.1, 4) == "20261019T063005Z_ed7b22f_sf0.1_c4.json"
    assert bench.artifact_name(utc, "unknown (not a git checkout)", 0.1, 4).endswith(
        "_nogit_sf0.1_c4.json"
    )
