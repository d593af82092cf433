"""Headline benchmark — one JSON line for the driver.

Runs the bench-tagged queries from the registry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], forcing full
evaluation through the noop sink (no driver-side collect), and prints:

    {"metric": "...", "value": <total sec>, "unit": "sec", "sf": ...,
     "cpus": ..., "queries": {name: sec, ...}, "prev": <artifact>, ...}

Methodology: one discarded warm-up pass (JIT + codegen + parquet footer
caches), then n=5 timed runs per query; the headline number and the
regression flags both use the MEDIAN, and per-query stddev ships in the
artifact so a flag can be weighed against the run's own spread.

Baseline: every run writes its full artifact to ``bench_history/`` (unless
SPARK_GRAFT_RECORD=0, for ad-hoc runs that must not become the next
baseline). ``prev`` is the newest recorded artifact with this run's ``sf``
and ``cpus``; ``best`` is the per-query minimum median over all of them.
Artifacts without a ``cpus`` field never match, so a machine with no
recorded run of its own reports no baseline and no flags. A query is
flagged when its median exceeds 1.3x its ``prev`` or ``best`` median by
more than the two artifacts' summed per-query stddev.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from perfbench.observe import host_facts, steal_seconds  # noqa: E402
from ssidentity_spark.registry import bench_queries  # noqa: E402
from ssidentity_spark.session import cpu_count, get_spark  # noqa: E402

N_RUNS = 5
FLAG_RATIO = 1.3
FLAG_LISTS = ("regressions_over_1.3x", "regressions_over_1.3x_vs_best")


def compare(per_query: dict[str, dict], hist_dir: str, sf: float, cpus: int) -> dict:
    """Ratios and regression flags of this run's ``per_query`` records
    (``median``, ``stddev``) against the recorded artifacts in
    ``hist_dir`` whose ``sf`` and ``cpus`` equal this run's.

    A query is flagged when its median ratio exceeds ``FLAG_RATIO`` and,
    where both artifacts record the query's stddev, the median delta also
    exceeds the sum of the two stddevs: a slowdown inside the runs' own
    spread is noise, not a regression."""
    runs = []
    for path in glob.glob(os.path.join(hist_dir, "*.json")):
        with open(path) as f:
            art = json.load(f)
        if art.get("sf") == sf and art.get("cpus") == cpus:
            spread = art.get("per_query", {})
            base = {
                n: (t, spread.get(n, {}).get("stddev"))
                for n, t in art["queries"].items()
            }
            runs.append((art.get("utc", ""), os.path.basename(path), base))
    runs.sort()
    _, prev_name, prev = runs[-1] if runs else (None, None, {})
    best: dict[str, tuple[float, float | None]] = {}
    for *_, base in runs:
        for name, rec in base.items():
            best[name] = min(rec, best.get(name, rec), key=lambda r: r[0])

    def ratios(base: dict[str, tuple]) -> dict[str, float]:
        return {
            n: round(q["median"] / base[n][0], 2)
            for n, q in per_query.items()
            if n in base and base[n][0]
        }

    def flags(base: dict[str, tuple], ratio: dict[str, float]) -> list[str]:
        out = []
        for n, r in ratio.items():
            (t0, sd0), q = base[n], per_query[n]
            sd = q.get("stddev")
            noise = sd is not None and sd0 is not None and q["median"] - t0 <= sd + sd0
            if r > FLAG_RATIO and not noise:
                out.append(n)
        return sorted(out)

    vs_prev, vs_best = ratios(prev), ratios(best)
    return {
        "prev": prev_name,
        "n_baseline_runs": len(runs),
        "best": {n: t for n, (t, _) in best.items()},
        "ratio_vs_prev": vs_prev,
        "ratio_vs_best": vs_best,
        FLAG_LISTS[0]: flags(prev, vs_prev),
        FLAG_LISTS[1]: flags(best, vs_best),
    }


def artifact_name(utc: datetime, git_sha: str, sf: float, cpus: int) -> str:
    sha = git_sha[:7] if re.fullmatch(r"[0-9a-f]{40}", git_sha) else "nogit"
    return f"{utc:%Y%m%dT%H%M%SZ}_{sha}_sf{sf}_c{cpus}.json"


def compact_line(compact: dict, budget: int = 1900) -> str:
    """One-line JSON for the driver's stdout tail.

    ``queries`` is the field the driver's per-query comparison parses, so
    it is never shed. When the line exceeds the tail budget, the two flag
    lists are shed in turn, each replaced by its count; the full artifact
    keeps them.
    """
    line = json.dumps(compact)
    for shed in FLAG_LISTS:
        if len(line) <= budget:
            break
        val = compact.pop(shed, None)
        if val is not None:
            compact[f"n_{shed}"] = len(val)
        line = json.dumps(compact)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"(?:^|/)sf([0-9]+(?:\.[0-9]+)?)(?=/|$|[._-])", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    cpus = cpu_count()
    utc = datetime.now(timezone.utc)
    load_start, steal_start = os.getloadavg(), steal_seconds()
    spark = get_spark("ssidentity-bench", cores=cpus)
    # testdata files are ~1-10 MB: split smaller so scans parallelize across
    # local cores (cluster deployments keep the 128 MB default)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    specs = bench_queries()

    # full warm-up pass: JIT + codegen + parquet footer caches — measured
    # numbers reflect steady-state engine throughput, not JVM startup
    for spec in specs.values():
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    per_query: dict[str, dict[str, float]] = {}
    for name, spec in sorted(specs.items()):
        samples: list[float] = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 3)
        per_query[name] = {
            "median": timings[name],
            "stddev": round(statistics.stdev(samples), 3),
            "min": round(min(samples), 3),
            "n": N_RUNS,
        }
    total = round(sum(timings.values()), 3)
    hist_dir = os.path.join(ROOT, "bench_history")
    full = {
        "metric": "headline-queries wall time (noop sink, local)",
        "value": total,
        "unit": "sec",
        "utc": utc.isoformat(timespec="seconds"),
        "sf": sf,
        "cpus": cpus,
        "queries": timings,
        "per_query": per_query,
        "host": {
            **host_facts(ROOT),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "steal_s": round(steal_seconds() - steal_start, 2),
        },
        **compare(per_query, hist_dir, sf, cpus),
    }
    # the driver keeps only the last 2000 chars of stdout: the full
    # artifact goes to bench_history/, stdout carries one compact line
    full_path = os.path.join(hist_dir, artifact_name(utc, full["host"]["git_sha"], sf, cpus))
    recorded = os.environ.get("SPARK_GRAFT_RECORD", "1") != "0"
    if recorded:
        os.makedirs(hist_dir, exist_ok=True)
        with open(full_path, "x") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    compact = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        # 2-dp in the compact line: 22 entries stay well under the char
        # budget (the full artifact keeps 3-dp + stddev/min)
        "queries": {n: round(t, 2) for n, t in timings.items()},
        "prev": full["prev"],
        **{k: full[k] for k in FLAG_LISTS},
        # unrecorded runs must not point at a file they did not write
        "full_artifact": (
            os.path.relpath(full_path, ROOT) if recorded else None
        ),
    }
    print(compact_line(compact))
    spark.stop()


if __name__ == "__main__":
    main()
