"""The ``batch_mix`` workload: registry queries timed ``fn(spark, sf_dir)``
-> ``noop`` write, the way ``bench.run_once`` times them.

The tables are a copy of the fixed sf0.01 fixture tables (seed 42, see
``TESTDATA.md``) in ``perfbench/data``, so the seed does not change this
workload's inputs.

Set-up runs one pass that collects every query and compares it with its
registered DuckDB oracle (``tools.verify_queries.compare``; every query in
the set has one). That pass is also the warm-up and counts toward
``setup_s``. Each measured pass
starts with ``dedup.evict_sf_dir`` so index builds stay billed to the
query that needs them; passes repeat (see ``MIN_PASSES``) and each query
reports its median.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import jvm
from perfbench.common import ROOT, Run, log, pct

SF_DIR = str(ROOT / "perfbench" / "data")

QUERY_SET = (
    "q_join_inner",
    "q_win_frame",
    "q_text_tfidf",
    "q_graph_pagerank",
    "q_udf_scalar",
)

#: Measured passes are repeated until ``--seconds`` have gone by, and at
#: least this often; every figure is the median over passes.
MIN_PASSES = 2


def _check(spark, errors: list[str]) -> None:
    from tools.verify_queries import compare, duck_connection
    from ws_to_kafka_spark.operators import distributed

    con = duck_connection(SF_DIR)
    for name in QUERY_SET:
        try:
            with distributed.persist_scope():
                status = compare(spark, con, name, SF_DIR)
        except Exception as exc:  # noqa: BLE001 - a failing query is reported, not fatal
            status = f"ERROR {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        if not status.startswith("match"):
            errors.append(f"{name}: {status}")
        log(f"checked {name}: {status}")


def _one_pass(spark, traced: bool, layers: dict) -> dict[str, float]:
    from ws_to_kafka_spark.operators import QUERIES, distributed
    from ws_to_kafka_spark.operators.dedup import evict_sf_dir

    evict_sf_dir(SF_DIR)
    sc = spark.sparkContext
    times = {}
    for name in QUERY_SET:
        if traced:
            sc.setJobGroup(name, name)
            compiles0, compile_ms0 = jvm.codegen_totals(spark)
        with distributed.persist_scope():
            t0 = time.perf_counter()
            df = QUERIES[name].fn(spark, SF_DIR)
            t1 = time.perf_counter()
            if traced:
                phases = jvm.catalyst_ms(df)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        times[name] = t2 - t0
        if traced:
            compiles1, compile_ms1 = jvm.codegen_totals(spark)
            layers["operators.construct_s"] += t1 - t0
            layers["operators.execute_s"] += t2 - t1
            for phase, ms in phases.items():
                layers[f"catalyst.{phase}_ms"] += ms
            layers["codegen.compiles"] += compiles1 - compiles0
            layers["codegen.compile_ms"] += compile_ms1 - compile_ms0
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return times


def run_batch(run: Run, seconds: int) -> dict:
    spark = run.start_spark()
    log("spark session up")
    errors: list[str] = []
    _check(spark, errors)
    t_open = time.time()
    log("oracle pass done")
    passes: list[dict[str, float]] = []
    pass_s: list[float] = []
    layer_passes: list[dict] = []
    while len(passes) < MIN_PASSES or time.time() - t_open < seconds:
        layers = dict.fromkeys(
            (
                "operators.construct_s",
                "operators.execute_s",
                "catalyst.analysis_ms",
                "catalyst.optimization_ms",
                "catalyst.planning_ms",
                "codegen.compiles",
                "codegen.compile_ms",
            ),
            0.0,
        )
        t = time.perf_counter()
        passes.append(_one_pass(spark, run.trace, layers))
        pass_s.append(time.perf_counter() - t)
        layer_passes.append(layers)
        log(f"pass {len(passes)}: {pass_s[-1]:.2f} s " + " ".join(
            f"{q}={s:.2f}" for q, s in passes[-1].items()
        ))
    rss = run.peak_rss_mb()
    per_query = {q: float(np.median([p[q] for p in passes])) for q in QUERY_SET}
    q_ms = [v * 1000.0 for v in per_query.values()]
    median_pass = float(np.median(pass_s))
    layers = {k: float(np.median([lp[k] for lp in layer_passes])) for k in layer_passes[0]}
    layers["mem.peak_rss_mb"] = rss
    layers["operators.pass_s"] = median_pass
    layers["operators.passes"] = float(len(passes))
    for q, s in per_query.items():
        layers[f"q.{q}.s"] = s
    return {
        "errors": errors,
        "attempted": len(QUERY_SET),
        "failed": len({e.split(":")[0] for e in errors}),
        "e2e": {
            "latency_p50_ms": pct(q_ms, 50),
            "latency_p95_ms": pct(q_ms, 95),
            "items_per_s": len(QUERY_SET) / median_pass,
            "setup_s": t_open - run.t_start,
        },
        "layers": layers,
        "window_ms": (t_open * 1000.0, time.time() * 1000.0),
        "passes": len(passes),
    }
