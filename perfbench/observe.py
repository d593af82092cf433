"""Spans, Spark event-log and streaming-progress folds, memory and host facts.

Everything here observes the engine from outside: spans are taken around
the benchmark's own calls into each layer, jobs are tagged with
``SparkContext.setJobGroup``, and Spark's own event log and
``StreamingQuery.recentProgress`` supply the per-layer counts.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans ``(id, name, parent, start, end)``.

    When enabled, each span is also the Spark job group of every job its
    body launches, so the event log can be folded per span. When
    disabled it records nothing and touches no Spark state.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # the live SparkContext, set by the caller

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        selft = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selft[s["id"]]}) + "\n")


def descendants_of(spans: list[dict], name: str) -> set[int]:
    """Ids of the spans called ``name`` and of every span below them."""
    out = {s["id"] for s in spans if s["name"] == name}
    for s in spans:  # a span is recorded after its parent
        if s["parent"] in out:
            out.add(s["id"])
    return out


def fold_event_logs(log_dir: str) -> dict[str, dict[str, float]]:
    """Jobs, stages, tasks, executor time, shuffle and spill per job group.

    Reads every finished event log under ``log_dir``; stages are charged
    to the job group of the job that submitted them.
    """
    per = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "local-*"))):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                    per[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"], "untagged")
                    if "Failure Reason" in info:
                        per[group]["failed_stages"] += 1
                    if info.get("Number of Tasks") and info.get("Submission Time") is not None:
                        per[group]["stages"] += 1
                        per[group]["tasks"] += info["Number of Tasks"]
                    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                    per[group]["executor_s"] += float(acc.get("internal.metrics.executorRunTime", 0)) / 1e3
                    per[group]["executor_cpu_s"] += float(acc.get("internal.metrics.executorCpuTime", 0)) / 1e9
                    per[group]["shuffle_bytes"] += float(acc.get("internal.metrics.shuffle.write.bytesWritten", 0))
                    per[group]["spill_bytes"] += float(acc.get("internal.metrics.diskBytesSpilled", 0)) + float(
                        acc.get("internal.metrics.memoryBytesSpilled", 0)
                    )
    return {g: dict(v) for g, v in per.items()}


def fold_progress(progress: list) -> dict[str, float]:
    """Sum ``StreamingQueryProgress`` phase times and state sizes.

    State rows and bytes are the last trigger's (what is held at the
    end); phase times and dropped duplicates are summed.
    """
    out = defaultdict(float)
    for p in progress:
        d = p.durationMs or {}
        out["triggers"] += 1
        for phase in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
            out[f"{phase}_s"] += d.get(phase, 0) / 1e3
        for op in p.stateOperators or []:
            out["state_rows"] = float(op.numRowsTotal)
            out["state_bytes"] = float(op.memoryUsedBytes)
            out["state_updated_rows"] += op.numRowsUpdated
            out["state_update_s"] += op.allUpdatesTimeMs / 1e3
            out["state_commit_s"] += op.commitTimeMs / 1e3
            out["dropped_duplicates"] += (op.customMetrics or {}).get("numDroppedDuplicateRows", 0)
    return dict(out)


def _descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we listed
        children[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(jvm_pid: int) -> dict[int, float]:
    """``VmHWM`` in MB of the JVM and of every process below it (the
    Python daemon and its workers), by pid."""
    out = {}
    for pid in _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
        except OSError:
            continue  # a worker exited between listing and reading
    return out


def steal_seconds() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


def host_facts(root: str) -> dict:
    try:
        sha = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip()
    except OSError:
        sha = ""
    java = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30).stderr
    return {
        "nproc": os.cpu_count(),
        "affinity_cores": sorted(os.sched_getaffinity(0)),
        "python": sys.version.split()[0],
        "java": java.splitlines()[0] if java else "",
        "platform": platform.platform(),
        "git_sha": sha or "unknown (not a git checkout)",
    }
