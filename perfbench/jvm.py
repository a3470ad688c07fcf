"""JVM-side layer counters for the traced run: Catalyst phase times,
whole-stage codegen compiles and the scheduler/executor/shuffle totals of
Spark's event log, attributed to job groups."""

from __future__ import annotations

import json
import os
from collections import defaultdict

def event_log_conf(event_dir: str) -> dict:
    """Confs that turn on a local, uncompressed event log (traced run only)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
        "spark.eventLog.compress": "false",
    }


def codegen_totals(spark) -> tuple[int, float]:
    """(compiles, compile ms) so far in this JVM. The histogram keeps every
    value while fewer than its 1028-sample reservoir have been recorded,
    which holds for one run; past that the sum is an estimate."""
    hist = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    count = int(hist.getCount())
    snap = hist.getSnapshot()
    values = list(snap.getValues())
    total = float(sum(values)) if len(values) >= count else snap.getMean() * count
    return count, total


def catalyst_ms(df) -> dict:
    """Analysis / optimization / planning ms of ``df``'s query execution;
    forces physical planning (the noop write then plans its own command)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        out[phase] = float(phases.apply(phase).durationMs()) if phases.contains(phase) else 0.0
    return out


def event_totals(event_dir: str, lo_ms: float = 0.0, hi_ms: float = float("inf")) -> dict:
    """Per job group: jobs, stages, tasks, executor run/CPU ms and shuffle
    bytes, for jobs submitted in ``[lo_ms, hi_ms)``. Key ``None`` holds
    jobs without a group."""
    stage_group: dict[int, object] = {}
    out: dict = defaultdict(lambda: defaultdict(float))
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(event_dir) for f in files
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue  # the v2 log directory also holds an empty status file
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if not lo_ms <= ev.get("Submission Time", 0) < hi_ms:
                        continue
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    acc = out[group]
                    acc["jobs"] += 1
                    for info in ev.get("Stage Infos", []):
                        stage_group[info["Stage ID"]] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if info["Stage ID"] in stage_group:
                        acc = out[stage_group[info["Stage ID"]]]
                        acc["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Stage ID") not in stage_group:
                        continue
                    acc = out[stage_group[ev["Stage ID"]]]
                    m = ev.get("Task Metrics") or {}
                    acc["tasks"] += 1
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rd = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
    return {k: dict(v) for k, v in out.items()}


def scheduler_layers(totals: dict, groups=None) -> dict:
    """Sum ``event_totals`` over ``groups`` (all when None) into the
    per-layer metric names."""
    keys = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "shuffle_write_bytes", "shuffle_read_bytes")
    acc = dict.fromkeys(keys, 0.0)
    for group, vals in totals.items():
        if groups is None or group in groups:
            for k in keys:
                acc[k] += vals.get(k, 0.0)
    return {
        "scheduler.jobs": acc["jobs"],
        "scheduler.stages": acc["stages"],
        "scheduler.tasks": acc["tasks"],
        "executor.run_ms": acc["run_ms"],
        "executor.cpu_ms": acc["cpu_ms"],
        "shuffle.write_bytes": acc["shuffle_write_bytes"],
        "shuffle.read_bytes": acc["shuffle_read_bytes"],
    }
