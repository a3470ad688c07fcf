"""Benchmark entry point.

    python3 perfbench/run.py --workload {ws_live,ws_drain,batch_mix} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds its inputs from ``--seed``, runs the
workload against the program's public entry points, checks the outputs and
prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a run with
spans and the event log on. Exits 1 when an output is wrong, 2 when the
program is not next to the benchmark.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]

WORKLOADS = ("ws_live", "ws_drain", "batch_mix")

END_TO_END = {
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "items_per_s": "1/s",
    "setup_s": "s",
}


def _layer_units() -> dict:
    from perfbench.batch import QUERY_SET
    from perfbench.spans import LAYERS

    units = {
        "gen.late_ms_p99": "ms",
        "gen.frames_sent": "count",
        "ingest.lag_ms_p50": "ms",
        "ingest.lag_ms_p95": "ms",
        "pipeline.sink_lag_ms_p50": "ms",
        "pipeline.frames_sampled": "count",
        "pipeline.batches": "count",
        "pipeline.rows_per_batch_p50": "count",
        "pipeline.latest_offset_ms_p50": "ms",
        "pipeline.query_planning_ms_p50": "ms",
        "pipeline.add_batch_ms_p50": "ms",
        "pipeline.wal_commit_ms_p50": "ms",
        "pipeline.commit_offsets_ms_p50": "ms",
        "loss.startup_frames": "count",
        "loss.steady_frames": "count",
        "loss.frames_lost_frac": "fraction",
        "mem.peak_rss_mb": "MB",
    }
    for layer in LAYERS:
        units[f"{layer}.busy_ms"] = "ms"
        units[f"{layer}.self_ms"] = "ms"
    units["websocket.partition_bytes"] = "bytes"
    units["websocket.spans"] = "count"
    units.update(
        {
            "operators.pass_s": "s",
            "operators.passes": "count",
            "operators.construct_s": "s",
            "operators.execute_s": "s",
            "catalyst.analysis_ms": "ms",
            "catalyst.optimization_ms": "ms",
            "catalyst.planning_ms": "ms",
            "codegen.compiles": "count",
            "codegen.compile_ms": "ms",
            "scheduler.jobs": "count",
            "scheduler.stages": "count",
            "scheduler.tasks": "count",
            "executor.run_ms": "ms",
            "executor.cpu_ms": "ms",
            "shuffle.write_bytes": "bytes",
            "shuffle.read_bytes": "bytes",
        }
    )
    for q in QUERY_SET:
        units[f"q.{q}.s"] = "s"
        units[f"q.{q}.stages"] = "count"
    units["traced.latency_p50_ms"] = "ms"
    units["traced.items_per_s"] = "1/s"
    return units


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "ws_to_kafka_spark" / "__init__.py").is_file():
        print(f"no ws_to_kafka_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench import jvm, spans
    from perfbench.common import Run, emit, log

    traced = bool(args.trace)
    run = Run(args.workload, traced, t_start=T_START)
    if traced:
        run.spark_conf.update(jvm.event_log_conf(str(run.event_dir)))
    try:
        if args.workload == "batch_mix":
            from perfbench.batch import run_batch

            out = run_batch(run, args.seconds)
            lo_ms, hi_ms = out["window_ms"]
        else:
            from perfbench.streams import run_drain, run_live

            fn = run_live if args.workload == "ws_live" else run_drain
            out = fn(run, args.seed, args.seconds)
            lo_ms, hi_ms = (t / 1e6 for t in out["window_ns"])
            if traced:
                compiles, compile_ms = jvm.codegen_totals(run.spark)
                out["layers"].update(
                    {"codegen.compiles": compiles, "codegen.compile_ms": compile_ms}
                )
        log("checked")
        run.stop_spark()
        log("spark stopped")
        layers = out["layers"]
        if traced:
            totals = jvm.event_totals(str(run.event_dir), lo_ms, hi_ms)
            passes = out.get("passes", 1)
            groups = None
            if args.workload == "batch_mix":
                from perfbench.batch import QUERY_SET

                groups = set(QUERY_SET)
                for q in QUERY_SET:
                    layers[f"q.{q}.stages"] = totals.get(q, {}).get("stages", 0.0) / passes
            layers.update(
                {k: v / passes for k, v in jvm.scheduler_layers(totals, groups).items()}
            )
            layers.update(
                spans.layer_times(
                    spans.load_spans(str(run.span_dir)), int(lo_ms * 1e6), int(hi_ms * 1e6)
                )
            )
            layers["traced.latency_p50_ms"] = out["e2e"]["latency_p50_ms"]
            layers["traced.items_per_s"] = out["e2e"]["items_per_s"]
    finally:
        run.close()

    for err in out["errors"]:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    if traced:
        units = _layer_units()
        metrics = {k: layers.get(k, 0.0) for k in units}
    else:
        units = END_TO_END
        metrics = out["e2e"]
    correct = not out["errors"]
    emit(correct, out["attempted"], out["failed"], metrics, units)
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
