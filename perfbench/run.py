#!/usr/bin/env python3
"""Benchmark of the probe-request engine: one workload per invocation.

    python3 perfbench/run.py --workload probe_pipeline --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. Host facts, the per-layer table and the spans of a traced
run go to ``.perfbench/out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import gen  # noqa: E402
import observe as tr  # noqa: E402

try:
    import pyspark
    import workloads as wl
    from pyspark import SparkContext
    from ssidentity_spark import registry
    from ssidentity_spark.io import read_observations
    from ssidentity_spark.session import get_spark
except ModuleNotFoundError as e:
    sys.exit(f"perfbench: cannot import the engine from {ROOT}: {e}")

CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "3g"
WORKLOADS = ("probe_pipeline", "batch_queries")
# a run makes max(1, round(seconds / NOMINAL_PASS_S[workload])) timed
# passes: the count is fixed by --seconds, so every run of a workload does
# the same work. The figures are one first pass's wall time on a 4-core
# host; README.md ("What a run times") says why a run times a first pass.
NOMINAL_PASS_S = {"probe_pipeline": 20.0, "batch_queries": 22.0}
OPERATOR_NAMES = tuple(wl.OPERATORS)
HEADLINERS = wl.HEADLINERS
SPARK_TOTALS = ("jobs", "stages", "tasks", "executor_s", "executor_cpu_s", "shuffle_bytes", "spill_bytes")
# (key in observe.fold_progress, per-layer name) for the two streams
INGEST_PROGRESS = (
    ("triggers", "triggers"),
    ("addBatch_s", "add_batch_s"),
    ("queryPlanning_s", "query_planning_s"),
    ("walCommit_s", "wal_commit_s"),
    ("commitOffsets_s", "commit_offsets_s"),
    ("latestOffset_s", "latest_offset_s"),
    ("state_rows", "dedup_state_rows"),
    ("state_bytes", "dedup_state_bytes"),
    ("dropped_duplicates", "dedup_dropped_rows"),
)
ALERT_PROGRESS = (
    ("triggers", "triggers"),
    ("addBatch_s", "add_batch_s"),
    ("state_updated_rows", "groups"),
    ("state_rows", "state_rows"),
    ("state_bytes", "state_bytes"),
    ("state_update_s", "state_update_s"),
    ("state_commit_s", "state_commit_s"),
)

END_TO_END = {"setup_s": "s", "suite_s": "s"}
PER_LAYER_NAMES = (
    ["session.get_spark_s", "registry.load_s", "warmup_s"]
    + ["parse.frames_per_s", "parse.accept_ratio"]
    + ["ingest.frames_per_s", "ingest.local1.frames_per_s", "ingest.core_scaling"]
    + [f"ingest.{name}" for _, name in INGEST_PROGRESS]
    + ["io.store_files", "io.store_bytes_per_row", "io.scan_s"]
    + ["alerts.rows_per_s", "alerts.emitted"]
    + [f"alerts.{name}" for _, name in ALERT_PROGRESS]
    + [f"{op}_s" for op in OPERATOR_NAMES]
    + [f"{op}.{m}" for op in OPERATOR_NAMES for m in ("jobs", "executor_s", "shuffle_bytes")]
    + [f"{q}.{m}" for q in HEADLINERS for m in ("build_s", "action_s", "jobs", "executor_s", "shuffle_bytes")]
    + [f"headliners.{m}" for m in ("jobs", "stages", "executor_s", "shuffle_bytes", "spill_bytes")]
    + [f"spark.{m}" for m in SPARK_TOTALS]
    + ["memory.peak_rss_mb", "memory.jvm_rss_mb", "memory.python_rss_mb"]
)


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_per_row"):
        return "bytes/row"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("ratio", "scaling")):
        return "ratio"
    return "count"


PER_LAYER = {n: _unit(n) for n in PER_LAYER_NAMES}


def moves(name: str) -> str:
    """The end-to-end metric and workload a per-layer metric should move."""
    layer = name.split(".")[0]
    if name in ("session.get_spark_s", "registry.load_s", "warmup_s"):
        return "setup_s on both workloads"
    if name.startswith(("ingest.dedup_state", "alerts.state_rows", "alerts.state_bytes")):
        return "memory.peak_rss_mb and suite_s on probe_pipeline"
    if layer == "ingest":
        return "suite_s on probe_pipeline; setup_s on batch_queries (its store build)"
    if layer in ("parse", "alerts"):
        return "suite_s on probe_pipeline"
    if name.startswith("io.store"):
        return "suite_s on probe_pipeline (write) and batch_queries (read)"
    if name == "io.scan_s" or layer in OPERATOR_NAMES or name.removesuffix("_s") in OPERATOR_NAMES:
        return "suite_s on batch_queries"
    if layer in HEADLINERS or layer == "headliners":
        return "suite_s on batch_queries"
    if layer == "spark":
        return "suite_s on the traced workload"
    return "none bounded: peak memory of the traced workload"


def launch_env(work: str, event_log: str | None) -> None:
    """Process environment for the JVM and the Python workers it starts.

    Everything Spark writes lands under ``work``; the workers import the
    engine from the checkout whatever the current directory is. With
    ``event_log`` set, every SparkContext of the run writes its event log
    there, uncompressed.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONHASHSEED": "0",
        }
    )
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [a for k, v in confs.items() for a in ("--conf", shlex.quote(f"{k}={v}"))]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def med(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One run: the live session, the tracer and the operation counts."""

    def __init__(self, workload: str, inputs: dict, work: str, traced: bool):
        self.workload = workload
        self.inputs = inputs
        self.dirs = wl.Dirs(os.path.join(work, "data"))
        self.tracer = tr.Tracer(enabled=traced)
        self.spark = None
        self.cores = CORES
        self.dims: dict = {}
        self.store_build: dict | None = None  # batch_queries' ingest in set-up
        self.attempted = 0
        self.failures: list[str] = []

    def start_session(self, cores: int = CORES) -> float:
        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = get_spark("perfbench", cores=cores)
        self.cores = cores
        self.tracer.sc = self.spark.sparkContext
        elapsed = time.perf_counter() - t
        self.dims = {
            "sensors": self.spark.read.parquet(self.inputs["sensors"]),
            "watchlist": self.spark.read.parquet(self.inputs["watchlist"]),
        }
        return elapsed

    def shutdown(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def _fail(self, what: str, e: Exception) -> None:
        first = str(e).splitlines()[0] if str(e) else ""
        self.failures.append(f"{what}: {type(e).__name__}: {first}"[:300])

    def ingest(self) -> dict | None:
        self.attempted += 1
        try:
            return wl.ingest(self.spark, self.tracer, self.dirs, self.inputs["drop"])
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            self._fail("ingest", e)
            return None

    def probe_rep(self) -> dict | None:
        """Ingest then alerts, each timed, then both outputs checked."""
        ing = self.ingest()
        if ing is None:
            return None
        self.attempted += 1
        try:
            al = wl.alerts(self.spark, self.tracer, self.dirs, ing["store"])
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            self._fail("alerts", e)
            return None
        self.failures += wl.check_store(self.inputs["truth"], ing["store"]) + wl.check_alerts(self.inputs["truth"], al)
        return {"ingest": ing, "alerts": al}

    def op_round(self, store: str) -> tuple[dict[str, float], dict[str, str]]:
        self.attempted += len(OPERATOR_NAMES)
        try:
            return wl.operator_round(self.tracer, self.dirs, read_observations(self.spark, store), self.dims)
        except Exception as e:  # noqa: BLE001 - counted, the round is lost
            self._fail("operator round", e)
            return {}, {}

    def headliner_round(self) -> tuple[dict[str, tuple[float, float]], dict]:
        self.attempted += len(HEADLINERS)
        try:
            return wl.headliner_round(self.spark, self.tracer, self.inputs["tables"])
        except Exception as e:  # noqa: BLE001 - counted, the round is lost
            self._fail("headliner round", e)
            return {}, {}

    @property
    def store(self) -> str | None:
        return self.store_build["store"] if self.store_build else None

    def setup(self) -> dict:
        """Registry load, session start and the harness warm-up; on
        batch_queries also the store the operators read, written by the
        streaming ingest. No engine call the timed pass makes runs here,
        so the timed pass is each stage's first run in the session."""
        out: dict = {}
        t = time.perf_counter()
        registry.bench_queries()
        out["registry.load_s"] = time.perf_counter() - t
        out["session.get_spark_s"] = self.start_session()
        with self.tracer.span("warmup"):
            out["warmup_s"] = wl.timed(lambda: wl.warm_engine(self.spark, self.dirs.new("warmup"), self.cores))
        if self.workload == "batch_queries":
            self.attempted += 1
            self.store_build = wl.ingest(self.spark, self.tracer, self.dirs, self.inputs["drop"])
            out["store_build_s"] = self.store_build["wall_s"]
            self.failures += wl.check_store(self.inputs["truth"], self.store)
        return out

    def _one_rep(self) -> tuple[dict[str, float], dict]:
        """One timed pass: stage wall times and what else it left."""
        if self.workload == "probe_pipeline":
            rep = self.probe_rep()
            if rep is None:
                return {}, {}
            return {s: rep[s]["wall_s"] for s in ("ingest", "alerts")}, {
                "progress": {s: rep[s]["progress"] for s in ("ingest", "alerts")},
                "store": rep["ingest"]["store"],
                "alerts": rep["alerts"]["rows"],
            }
        times, outs = self.op_round(self.store)
        hl_times, frames = self.headliner_round()
        parts = {}
        for name, (build, action) in hl_times.items():
            times[name] = build + action
            parts[f"{name}.build"], parts[f"{name}.action"] = build, action
        return times, {"outs": outs, "frames": frames, "parts": parts, "store": self.store}

    def check_batch(self, last: dict) -> None:
        """The last pass's results stand for the run's."""
        con = wl.duck_connect(self.inputs, self.store)
        try:
            self.failures += wl.check_operators(con, last.get("outs", {}))
            self.failures += wl.check_headliners(con, last.get("frames", {}))
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails
            self._fail("output check", e)
        finally:
            con.close()

    def timed_section(self, reps: int) -> dict:
        """The measured passes: per-stage samples, their suite_s (sum of
        per-stage medians) and the CPU seconds the hypervisor stole during
        each pass."""
        samples: dict[str, list[float]] = {}
        parts: dict[str, list[float]] = {}
        progress: dict[str, list] = {}
        alerts, stolen, rest = [], [], {}
        for _ in range(reps):
            steal0 = tr.steal_seconds()
            with self.tracer.span("pass"):
                times, rest = self._one_rep()
            stolen.append(tr.steal_seconds() - steal0)
            for name, t in times.items():
                samples.setdefault(name, []).append(t)
            for name, t in rest.get("parts", {}).items():
                parts.setdefault(name, []).append(t)
            for stage, p in rest.get("progress", {}).items():
                progress.setdefault(stage, []).append(p)
            alerts += [rest["alerts"]] if "alerts" in rest else []
        t = time.perf_counter()
        if self.workload == "batch_queries":
            self.check_batch(rest)
        check_s = time.perf_counter() - t
        return {
            "samples": samples,
            "parts": parts,
            "progress": progress,
            "store": rest.get("store") or self.store,
            "stolen_s": stolen,
            "check_s": check_s,
            "alerts": alerts,
            "suite_s": sum(med(v) for v in samples.values()),
        }

    def peak_rss(self) -> dict[str, float]:
        """``VmHWM`` of the JVM, of its Python processes, and their sum."""
        jvm = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        per_pid = tr.peak_rss_mb(jvm)
        python = sum(mb for pid, mb in per_pid.items() if pid != jvm)
        return {
            "memory.peak_rss_mb": sum(per_pid.values()),
            "memory.jvm_rss_mb": per_pid.get(jvm, 0.0),
            "memory.python_rss_mb": python,
            "python_procs": len(per_pid) - 1,
        }


def layer_sweep(bench: Bench, timed: dict) -> dict[str, float]:
    """Per-layer numbers of a traced run. Stages the workload timed come
    from its traced pass; on batch_queries the ingest figures come from
    the set-up's store build. The layers a workload does not time run
    once here: the operators and headliners on probe_pipeline, the alert
    stream on batch_queries, and on both a batch parse of the drop
    directory and a full store scan, each to the noop sink."""
    truth = bench.inputs["truth"]
    out: dict[str, float] = {}
    samples, progress = timed["samples"], timed["progress"]
    if bench.store_build is not None:
        samples["ingest"] = [bench.store_build["wall_s"]]
        progress["ingest"] = [bench.store_build["progress"]]
    if "alerts" not in progress:
        bench.attempted += 1
        try:
            al = wl.alerts(bench.spark, bench.tracer, bench.dirs, bench.store)
            samples["alerts"], progress["alerts"], timed["alerts"] = [al["wall_s"]], [al["progress"]], [al["rows"]]
            bench.failures += wl.check_alerts(truth, al)
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            bench._fail("alerts", e)
    if "ingest" in samples:
        out["ingest.frames_per_s"] = truth.frames / med(samples["ingest"])
    if "alerts" in samples:
        out["alerts.rows_per_s"] = truth.store_rows / med(samples["alerts"])
        out["alerts.emitted"] = med(timed["alerts"])
    for stage, keys in (("ingest", INGEST_PROGRESS), ("alerts", ALERT_PROGRESS)):
        folded = [tr.fold_progress(p) for p in progress.get(stage, [])]
        for key, name in keys:
            out[f"{stage}.{name}"] = med([f.get(key, 0.0) for f in folded])
    if OPERATOR_NAMES[0] not in samples:
        times, _ = bench.op_round(timed["store"])
        samples.update({name: [t] for name, t in times.items()})
        hl_times, _ = bench.headliner_round()
        for name, (build, action) in hl_times.items():
            timed["parts"][f"{name}.build"], timed["parts"][f"{name}.action"] = [build], [action]
    for op in OPERATOR_NAMES:
        out[f"{op}_s"] = med(samples.get(op, []))
    for q in HEADLINERS:
        for part in ("build", "action"):
            out[f"{q}.{part}_s"] = med(timed["parts"].get(f"{q}.{part}", []))

    t, n_acc = wl.parse_batch(bench.spark, bench.tracer, bench.inputs["drop"])
    out["parse.frames_per_s"] = truth.frames / t
    out["parse.accept_ratio"] = n_acc / truth.frames
    files, bpr = wl.store_layout(timed["store"])
    out["io.store_files"] = float(files)
    out["io.store_bytes_per_row"] = bpr
    out["io.scan_s"] = wl.scan(bench.spark, bench.tracer, timed["store"])
    return out


def single_core_baseline(bench: Bench) -> dict[str, float]:
    """The ingest replayed once more on local[N] and then, after a session
    restart in the same JVM, on local[1]: both run with the JIT already
    warm from the runs before them, so their ratio is per-core scaling."""
    out = {}
    with bench.tracer.span("ingest.local_n"):
        ref = bench.ingest()
    bench.start_session(cores=1)
    with bench.tracer.span("ingest.local1"):
        one = bench.ingest()
    frames = bench.inputs["truth"].frames
    if ref and one:
        out["ingest.local1.frames_per_s"] = frames / one["wall_s"]
        out["ingest.core_scaling"] = one["wall_s"] / ref["wall_s"]
    return out


def fold_trace(bench: Bench, traced: dict, log_dir: str) -> tuple[dict[str, float], dict]:
    """The event log folded by job group into the per-layer counts.

    A span's jobs carry the span as their group; a stream's micro-batch
    jobs carry the stream's run id, mapped back to its stage here. The
    ``spark.*`` totals are those of the timed pass.
    """
    groups = tr.fold_event_logs(log_dir)
    names = {f"span-{s['id']}": s["name"] for s in bench.tracer.spans}
    in_pass = {f"span-{i}" for i in tr.descendants_of(bench.tracer.spans, "pass")}
    for stage, runs in traced["progress"].items():
        for p in runs:
            if p:
                names[str(p[0].runId)] = f"streaming.{stage}"
                in_pass.add(str(p[0].runId))
    layer: dict[str, float] = {}
    for m in SPARK_TOTALS:
        layer[f"spark.{m}"] = sum(g.get(m, 0.0) for gid, g in groups.items() if gid in in_pass)
    for op in OPERATOR_NAMES:
        runs = [g for gid, g in groups.items() if names.get(gid) == f"operators.{op}"]
        for m in ("jobs", "executor_s", "shuffle_bytes"):
            layer[f"{op}.{m}"] = med([g.get(m, 0.0) for g in runs])
    # a headliner's jobs are those of its build and of its action
    per_part: dict[str, list[dict]] = {}
    for gid, g in groups.items():
        name = names.get(gid, "")
        if name.startswith("plans."):
            per_part.setdefault(name, []).append(g)
    for q in HEADLINERS:
        for m in ("jobs", "executor_s", "shuffle_bytes"):
            layer[f"{q}.{m}"] = sum(
                med([g.get(m, 0.0) for g in per_part.get(f"plans.{q}.{part}", [])]) for part in ("build", "action")
            )
    for m in ("jobs", "stages", "executor_s", "shuffle_bytes", "spill_bytes"):
        layer[f"headliners.{m}"] = sum(med([g.get(m, 0.0) for g in runs]) for runs in per_part.values())
    per_layer_group: dict[str, dict[str, float]] = {}
    for gid, folded in groups.items():
        acc = per_layer_group.setdefault(names.get(gid, gid), {})
        for m, x in folded.items():
            acc[m] = acc.get(m, 0.0) + x
    return layer, per_layer_group


def tracing_overhead(out_dir: str, workload: str, size: str, traced_suite_s: float) -> dict:
    """The traced run's suite_s against the median of the untraced runs
    of the same workload and input size whose artifacts are in ``out_dir``."""
    untraced = []
    for path in glob.glob(os.path.join(out_dir, f"{workload}-seed*-trace0.json")):
        with open(path) as f:
            art = json.load(f)
        if art["host"].get("size") == size:
            untraced.append(art["metrics"]["suite_s"]["value"])
    if not untraced:
        return {"untraced_runs": 0}
    base = med(untraced)
    return {
        "untraced_runs": len(untraced),
        "untraced_median_suite_s": base,
        "traced_suite_s": traced_suite_s,
        "overhead_s": traced_suite_s - base,
        "overhead_ratio": traced_suite_s / base,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="input size (tiny: smoke tests)")
    args = ap.parse_args(argv)

    facts = {"loadavg_start": os.getloadavg(), "steal_s_start": tr.steal_seconds()}
    t_gen = time.perf_counter()
    inputs = gen.materialize(os.path.join(STATE, "inputs"), args.size, args.seed)
    gen_s = time.perf_counter() - t_gen

    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    launch_env(work, log_dir)
    bench = Bench(args.workload, inputs, work, traced=bool(args.trace))
    reps = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    try:
        setup = bench.setup()
        setup_s = time.perf_counter() - T_START - gen_s
        facts["alert_engine"] = wl.alert_engine(bench.spark)
        timed = bench.timed_section(reps)
        memory = bench.peak_rss()  # after the timed pass
        e2e = {"setup_s": setup_s, "suite_s": timed["suite_s"]}
        result = {"setup": setup, "memory": memory}
        if args.trace:
            layer = layer_sweep(bench, timed)
            layer.update(single_core_baseline(bench))
            bench.shutdown()  # closes the event logs
            folded, per_group = fold_trace(bench, timed, log_dir)
            layer.update(folded)
            layer.update(setup)
            layer.update(memory)
            result["per_job_group"] = per_group
            result["trace_overhead"] = tracing_overhead(out_dir, args.workload, args.size, timed["suite_s"])
            bench.tracer.dump(f"{stem}-spans.jsonl")
        result["timed"] = {k: v for k, v in timed.items() if k != "progress"}
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    facts.update(tr.host_facts(ROOT))
    facts.update(
        {
            "loadavg_end": os.getloadavg(),
            "steal_s": tr.steal_seconds() - facts.pop("steal_s_start"),
            "cores": CORES,
            "driver_heap": DRIVER_MEM,
            "spark": pyspark.__version__,
            "size": args.size,
            "input_sha256": inputs["sha256"],
            "generation_s": gen_s,
            "passes": reps,
        }
    )
    if args.trace:
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
        result["per_layer"] = {n: {**m, "moves": moves(n)} for n, m in metrics.items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump({"host": facts, "failures": bench.failures, "metrics": metrics, **result}, f, indent=1, default=str)
    for line in bench.failures:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    summary = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": metrics,
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
