"""Run hygiene shared by the workloads: environment, Spark session
lifecycle, peak memory and small statistics helpers."""

from __future__ import annotations

import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parents[1]

#: Cores given to local Spark; the benchmark is sized for a 4-core host.
CPUS = min(4, os.cpu_count() or 1)


def now_us() -> int:
    return time.time_ns() // 1000


def _proc_stat(pid) -> list[str] | None:
    """Fields after the command name in ``/proc/<pid>/stat``; None when
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _descendants(pid: int) -> set[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        fields = _proc_stat(entry) if entry.isdigit() else None
        if fields and fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.add(child)
            todo.append(child)
    return out


def _alive(pids: set[int]) -> set[int]:
    return {p for p in pids if (f := _proc_stat(p)) and f[0] != "Z"}


def pct(values, q: float) -> float:
    """Linear-interpolated percentile; 0.0 for an empty sample."""
    return float(np.percentile(values, q)) if len(values) else 0.0


class Run:
    """Per-run work directory, environment and Spark session.

    Everything the run writes lives under ``.perfbench_work/<pid>`` in the
    checkout (temporary files of Python and the JVM included) and is
    removed by :meth:`close`. ``PYTHONPATH`` is exported
    before the JVM starts so the Python workers it spawns can import the
    program and the benchmark's traced readers."""

    def __init__(self, workload: str, trace: bool, t_start: float):
        self.t_start = t_start
        self.workload = workload
        self.trace = trace
        self.work = ROOT / ".perfbench_work" / str(os.getpid())
        self.work.mkdir(parents=True, exist_ok=True)
        self.span_dir = self.work / "spans"
        self.span_dir.mkdir()
        self.event_dir = self.work / "events"
        self.event_dir.mkdir()
        env = os.environ
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
        )
        env["PYSPARK_PYTHON"] = sys.executable
        env["PYSPARK_DRIVER_PYTHON"] = sys.executable
        env["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        tmp = self.work / "tmp"
        tmp.mkdir()
        env["TMPDIR"] = tempfile.tempdir = str(tmp)
        env.setdefault("SPARK_DRIVER_MEMORY", "3g")
        env["PERFBENCH_SPAN_DIR"] = str(self.span_dir)
        self.spark_conf = {"spark.sql.streaming.numRecentProgressUpdates": "100000"}
        self.spark = None
        self.procs: list[subprocess.Popen] = []

    def start_spark(self):
        from ws_to_kafka_spark.session import get_spark

        java_opts = f"-Djava.io.tmpdir={tempfile.tempdir} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f'--driver-java-options "{java_opts}"']
            + [f"--conf {k}={v}" for k, v in self.spark_conf.items()]
            + ["pyspark-shell"]
        )
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=CPUS)
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this Python driver."""
        jvm_kb = 0
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def stop_spark(self) -> None:
        """Stop the session and wait until the JVM and every process under
        it (its Python workers and the feed children they spawn) has ended."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        tree = _descendants(proc.pid) if proc is not None else set()
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 15
        while (left := _alive(tree)) and time.time() < deadline:
            time.sleep(0.1)
        for pid in left:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass

    def close(self) -> None:
        for p in self.procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            self.work.parent.rmdir()
        except OSError:
            pass  # another run is still using it


def log(msg: str) -> None:
    """Phase progress on standard error (standard output is the result)."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> None:
    """The result line: the last line of standard output."""
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
                },
            }
        ),
        flush=True,
    )
