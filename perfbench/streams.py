"""The two streaming workloads.

``ws_live``: the production path ``start_pipeline`` (``format("websocket")``
simple reader, default trigger, default retention and admission) fed by
one open-loop connection at a fixed 20k frames/s of ~200 B ticker JSON,
with a subscribe message and 1 s interval messages. The timed window opens
once the pipeline has caught up with the feed and warmed up (see
``CAUGHT_UP_S``, ``WARM_BATCHES``) and lasts ``--seconds``; frames due
before it are the start-up share. Only frames due inside the window are the
run's operations (``attempted``/``failed``); frames lost at start-up are
reported by the ``loss.*`` layer metrics and on standard error.

``ws_drain``: ``format("websocket_multi")`` in its default process reader
mode with two feeds served by the one generator process. Each feed first
gets a small prelude (the warm-up), then a seeded backlog is released and
written as fast as TCP takes it. ``retention`` is set above the per-feed
backlog and ``max_records_per_batch`` is fixed at ``DRAIN_CAP``.

Both sink through ``foreach_batch`` into Arrow tables held by the driver;
the time a batch's sink call returns is its commit time. After the run,
every frame at the sink is checked byte for byte against the frame the
generator built for that sequence number.
"""

from __future__ import annotations

import json
import subprocess
import sys
import threading
import time

import numpy as np

from perfbench import spans as spanlib
from perfbench.common import ROOT, Run, log, now_us, pct
from perfbench.frames import SEQ, FrameMaker

LIVE_RATE = 20_000
#: The live window opens once two consecutive non-empty micro-batches each
#: carried at most this many seconds of frames: the start-up backlog is gone.
CAUGHT_UP_S = 0.5
#: ... and once the sink has taken this many non-empty micro-batches: the
#: per-batch time keeps falling, from about 300 ms to about 120 ms, over
#: the first 60-80 micro-batches while the JVM compiles the batch path, so
#: a window opened by elapsed time alone lands on a different point of that
#: curve in every run, and one opened by batch count on the same point.
#: By 50 most of the fall is over; waiting longer costs set-up time.
WARM_BATCHES = 50
INTERVAL_S = 1.0
DRAIN_FEEDS = 2
DRAIN_PRELUDE = 5_000
#: Backlog frames per feed per second of ``--seconds``.
DRAIN_PER_FEED_S = 25_000
DRAIN_CAP = 50_000
KEY = "perfbench"


class Sink:
    """``foreach_batch`` target: keeps each micro-batch as an Arrow table
    with the wall time its sink call finished."""

    def __init__(self):
        self.batches: list[tuple[int, int, object]] = []
        self.rows = 0
        self.lock = threading.Lock()

    def __call__(self, df, batch_id: int) -> None:
        table = df.toArrow()
        t = now_us()
        with self.lock:
            self.batches.append((batch_id, t, table))
            self.rows += table.num_rows

    def snapshot(self) -> tuple[int, int]:
        with self.lock:
            nonempty = sum(1 for _, _, t in self.batches if t.num_rows)
            return nonempty, self.rows


class GenProc:
    """The generator subprocess and its one-line-per-command protocol."""

    def __init__(self, run: Run, cfg: dict):
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.wsgen", json.dumps(cfg)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            cwd=str(ROOT),
        )
        run.procs.append(self.proc)
        self.url = json.loads(self.proc.stdout.readline())["url"]

    def cmd(self, c: str) -> dict:
        self.proc.stdin.write(c + "\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.wait(timeout=30)


def _wait(pred, timeout: float, what: str, poll: float = 0.02) -> None:
    deadline = time.time() + timeout
    while not pred():
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(poll)


def _wait_sink(sink: Sink, done, stall_s: float = 10.0) -> None:
    """Wait for ``done()``, or until the sink has taken no new rows for
    ``stall_s``: frames that never arrive are counted as lost, not waited
    for."""
    rows, changed = -1, time.time()
    while not done():
        now = time.time()
        if sink.snapshot()[1] != rows:
            rows, changed = sink.snapshot()[1], now
        elif now - changed > stall_s:
            log(f"sink stalled for {stall_s:.0f} s; the missing frames count as lost")
            return
        time.sleep(0.02)


def _register(spark, traced: bool, multi: bool) -> None:
    """Register the program's source, or the benchmark's traced subclass
    under the same name. ``start_pipeline`` registers the source itself,
    so for the traced run its registration hook is pointed at ours."""
    from ws_to_kafka_spark.sources import websocket
    from ws_to_kafka_spark.streaming import pipeline

    if multi:
        spark.dataSource.register(
            spanlib.TracedMultiWebSocketDataSource
            if traced
            else websocket.MultiWebSocketDataSource
        )
    elif traced:
        pipeline.register_websocket_source = lambda s: s.dataSource.register(
            spanlib.TracedWebSocketDataSource
        )


def _sink_frames(sink: Sink, multi: bool, errors: list[str]):
    """Per source feed: (values, ws_ts_us, commit_us, batch_ids) in sink order."""
    out: dict[int, list] = {}
    for batch_id, t_commit, table in sorted(sink.batches, key=lambda b: b[0]):
        if not table.num_rows:
            continue
        values = table.column("value").to_pylist()
        ts = table.column("timestamp").cast("int64").to_numpy()
        keys = set(table.column("key").to_pylist())
        if keys != {KEY}:
            errors.append(f"batch {batch_id}: unexpected keys {keys}")
        feeds = (
            table.column("feed_id").to_numpy() if multi else np.zeros(len(values), int)
        )
        for f in np.unique(feeds):
            idx = np.flatnonzero(feeds == f)
            acc = out.setdefault(int(f), [[], [], [], []])
            acc[0].extend(values[i] for i in idx)
            acc[1].append(ts[idx])
            acc[2].append(np.full(len(idx), t_commit, dtype=np.int64))
            acc[3].append(np.full(len(idx), batch_id, dtype=np.int64))
    return {
        f: (v, np.concatenate(t), np.concatenate(c), np.concatenate(b))
        for f, (v, t, c, b) in out.items()
    }


def _check_feed(maker, gen_feed, values, sent, due_of_seq, errors) -> np.ndarray:
    """Byte identity, no duplicates, per-feed order; returns the seqs."""
    seqs = np.fromiter((int(v[SEQ]) for v in values), dtype=np.int64, count=len(values))
    if len(seqs) and (np.any(np.diff(seqs) <= 0)):
        errors.append(f"feed {gen_feed}: duplicated or reordered frames")
    if len(seqs) and (seqs[0] < 0 or seqs[-1] >= sent):
        errors.append(f"feed {gen_feed}: sequence number outside what was sent")
        return seqs
    bad = sum(
        1
        for s, v in zip(seqs.tolist(), values)
        if maker.make(gen_feed, s, due_of_seq(s))[1] != v
    )
    if bad:
        errors.append(f"feed {gen_feed}: {bad} frames differ from what was sent")
    return seqs


def _check_messages(report, subscribes, interval_msg, active_s, errors) -> None:
    if report["connections"] != len(subscribes) or report["rejected"]:
        errors.append(
            f"{report['connections']} connections (+{report['rejected']} rejected), "
            f"expected {len(subscribes)}"
        )
    for conn, msgs in enumerate(report["received"]):
        texts = [m[2] for m in msgs]
        subs = [t for t in texts if t in subscribes]
        if len(subs) != 1 or texts[:1] != subs:
            errors.append(f"connection {conn}: {len(subs)} subscribe messages, expected 1 first")
        if interval_msg is not None:
            n = texts.count(interval_msg)
            if n < max(1, int(active_s / INTERVAL_S) - 2):
                errors.append(f"connection {conn}: only {n} interval messages in {active_s:.1f} s")


def _progress_metrics(progress: list[dict], batch_ids: set) -> dict:
    rows = [p for p in progress if p["batchId"] in batch_ids]

    def dur(key):
        return [p["durationMs"].get(key, 0) for p in rows]

    return {
        "pipeline.batches": float(len(rows)),
        "pipeline.rows_per_batch_p50": pct([p["numInputRows"] for p in rows], 50),
        "pipeline.latest_offset_ms_p50": pct(dur("latestOffset"), 50),
        "pipeline.query_planning_ms_p50": pct(dur("queryPlanning"), 50),
        "pipeline.add_batch_ms_p50": pct(dur("addBatch"), 50),
        "pipeline.wal_commit_ms_p50": pct(dur("walCommit"), 50),
        "pipeline.commit_offsets_ms_p50": pct(dur("commitOffsets"), 50),
    }


def _sliced_pct(due_us: np.ndarray, lat_ms: np.ndarray, t_open: int, seconds: int, q: float) -> float:
    """Median over the window's whole 1 s slices (by due time) of each
    slice's ``q`` percentile of frame latency. A slice holds about five
    micro-batches, so one slow batch moves its own slice and not the
    reported figure."""
    slices = (due_us - t_open) // 1_000_000
    per_slice = [
        np.percentile(lat_ms[slices == k], q) for k in range(seconds) if np.any(slices == k)
    ]
    return float(np.median(per_slice)) if per_slice else 0.0


def run_live(run: Run, seed: int, seconds: int) -> dict:
    from ws_to_kafka_spark.config import IntervalMessages, PipelineConfig
    from ws_to_kafka_spark.streaming.pipeline import start_pipeline

    gen = GenProc(run, {"mode": "live", "seed": seed, "rate": LIVE_RATE, "feeds": 1})
    spark = run.start_spark()
    log("spark session up")
    _register(spark, run.trace, multi=False)
    subscribe = json.dumps({"op": "subscribe", "args": [f"trades.{seed}"]})
    interval_msg = json.dumps({"op": "ping"})
    config = PipelineConfig(
        url=gen.url,
        brokers="",
        topic="",
        key=KEY,
        subscribe_message=subscribe,
        interval_messages=IntervalMessages(INTERVAL_S, (interval_msg,)),
    )
    sink = Sink()
    query = start_pipeline(
        spark, config, str(run.work / "ckpt"), foreach_batch=sink, query_name="perfbench_live"
    )

    def caught_up():
        with sink.lock:
            sizes = [t.num_rows for _, _, t in sink.batches if t.num_rows]
        return len(sizes) >= WARM_BATCHES and max(sizes[-2:]) <= LIVE_RATE * CAUGHT_UP_S

    _wait(caught_up, 120, "the pipeline to catch up with the feed and warm up")
    t_open = now_us()
    log("window open")
    time.sleep(seconds)
    stopped = gen.cmd("stop")
    t_stop, sent = stopped["t_stop_us"], stopped["sent"][0]

    def last_arrived():
        with sink.lock:
            tail = [t for _, _, t in sink.batches if t.num_rows]
        return bool(tail) and int(tail[-1].column("value")[-1].as_py()[SEQ]) == sent - 1

    _wait_sink(sink, last_arrived)
    log("last frame at the sink")
    progress = [json.loads(p.json) for p in query.recentProgress]
    query.stop()
    report = gen.cmd("report")
    gen.close()
    rss = run.peak_rss_mb()

    errors: list[str] = []
    t0 = report["t0_us"][0]
    period = 1_000_000 / LIVE_RATE
    frames = _sink_frames(sink, False, errors)
    if set(frames) - {0}:
        errors.append(f"unexpected feeds {sorted(frames)}")
    values, ws_ts, commit, batch_ids = frames.get(0, ([], np.zeros(0), np.zeros(0), np.zeros(0)))
    seqs = _check_feed(
        FrameMaker(seed, "ticker"), 0, values, sent, lambda s: t0 + int(s * period), errors
    )
    _check_messages(report, [subscribe], interval_msg, (t_stop - t0) / 1e6, errors)

    due = t0 + (seqs * period).astype(np.int64)
    window = due >= t_open
    lat_ms = (commit[window] - due[window]) / 1000.0
    all_due = t0 + (np.arange(sent) * period).astype(np.int64)
    lost = np.setdiff1d(np.arange(sent), seqs)
    lost_startup = int(np.sum(all_due[lost] < t_open))
    first_in_window = int(np.searchsorted(all_due, t_open))
    log(f"start-up loss: {lost_startup} of {first_in_window} frames due before the window")
    return {
        "errors": errors,
        "attempted": sent - first_in_window,
        "failed": len(lost) - lost_startup,
        "e2e": {
            "latency_p50_ms": _sliced_pct(due[window], lat_ms, t_open, seconds, 50),
            "latency_p95_ms": _sliced_pct(due[window], lat_ms, t_open, seconds, 95),
            "items_per_s": int(window.sum()) / ((t_stop - t_open) / 1e6),
            "setup_s": t_open / 1e6 - run.t_start,
        },
        "layers": {
            "mem.peak_rss_mb": rss,
            "gen.late_ms_p99": report["late_ms_p99"],
            "gen.frames_sent": float(sent),
            "ingest.lag_ms_p50": pct((ws_ts[window] - due[window]) / 1000.0, 50),
            "ingest.lag_ms_p95": pct((ws_ts[window] - due[window]) / 1000.0, 95),
            "pipeline.sink_lag_ms_p50": pct((commit[window] - ws_ts[window]) / 1000.0, 50),
            "pipeline.frames_sampled": float(window.sum()),
            "loss.startup_frames": float(lost_startup),
            "loss.steady_frames": float(len(lost) - lost_startup),
            "loss.frames_lost_frac": len(lost) / max(1, sent),
            **_progress_metrics(progress, set(batch_ids[window].tolist())),
        },
        "window_ns": (t_open * 1000, now_us() * 1000),
    }


def run_drain(run: Run, seed: int, seconds: int) -> dict:
    from pyspark.sql import functions as F

    backlog = DRAIN_PER_FEED_S * seconds
    gen = GenProc(
        run,
        {
            "mode": "drain",
            "seed": seed,
            "feeds": DRAIN_FEEDS,
            "prelude": DRAIN_PRELUDE,
            "backlog": backlog,
        },
    )
    spark = run.start_spark()
    log("spark session up")
    _register(spark, run.trace, multi=True)
    subscribes = [
        json.dumps({"op": "subscribe", "args": [f"book.{seed}.{f}"]})
        for f in range(DRAIN_FEEDS)
    ]
    frames_df = (
        spark.readStream.format("websocket_multi")
        .option("urls", json.dumps([gen.url] * DRAIN_FEEDS))
        .option("subscribes", json.dumps(subscribes))
        .option("retention", str(DRAIN_PRELUDE + backlog + 1000))
        .option("max_records_per_batch", str(DRAIN_CAP))
        .load()
    )
    sink = Sink()
    query = (
        frames_df.select(
            F.col("value"),
            F.lit(KEY).alias("key"),
            F.col("ws_timestamp").alias("timestamp"),
            F.col("feed_id"),
        )
        .writeStream.queryName("perfbench_drain")
        .option("checkpointLocation", str(run.work / "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    total = DRAIN_FEEDS * (DRAIN_PRELUDE + backlog)
    _wait(
        lambda: sink.snapshot()[1] >= DRAIN_FEEDS * DRAIN_PRELUDE
        and gen.cmd("state")["ready"] == DRAIN_FEEDS,
        180,
        "the prelude at the sink and the backlog built",
        poll=0.1,
    )
    t_go = gen.cmd("go")["t_go_us"]
    log("backlog released")
    _wait_sink(sink, lambda: sink.snapshot()[1] >= total)
    log("backlog at the sink")
    progress = [json.loads(p.json) for p in query.recentProgress]
    query.stop()
    report = gen.cmd("report")
    gen.close()
    rss = run.peak_rss_mb()

    errors: list[str] = []
    _check_messages(report, subscribes, None, 0.0, errors)
    # source feed i is the connection whose subscribe message is subscribes[i]
    conn_of = {}
    for conn, msgs in enumerate(report["received"]):
        for f, sub in enumerate(subscribes):
            if msgs and msgs[0][2] == sub:
                conn_of[f] = conn
    frames = _sink_frames(sink, True, errors)
    maker = FrameMaker(seed, "drain")
    lat, ingest, sink_lag, batch_ids = [], [], [], []
    lost_startup = lost = sent_total = 0
    last_commit = 0
    for f in range(DRAIN_FEEDS):
        if f not in conn_of:
            errors.append(f"feed {f}: no connection sent its subscribe message")
            continue
        c = conn_of[f]
        sent = report["sent"][c]
        sent_total += sent
        t0 = report["t0_us"][c]
        values, ws_ts, commit, bids = frames.get(f, ([], np.zeros(0), np.zeros(0), np.zeros(0)))
        seqs = _check_feed(
            maker, c, values, sent, lambda s: t0 if s < DRAIN_PRELUDE else t_go, errors
        )
        missing = np.setdiff1d(np.arange(sent), seqs)
        lost += len(missing)
        lost_startup += int(np.sum(missing < DRAIN_PRELUDE))
        back = seqs >= DRAIN_PRELUDE
        lat.append((commit[back] - t_go) / 1000.0)
        ingest.append((ws_ts[back] - t_go) / 1000.0)
        sink_lag.append((commit[back] - ws_ts[back]) / 1000.0)
        batch_ids.append(bids[back])
        if back.any():
            last_commit = max(last_commit, int(commit[back].max()))
    lat, ingest, sink_lag = (np.concatenate(x) if x else np.zeros(0) for x in (lat, ingest, sink_lag))
    drained = DRAIN_FEEDS * backlog - (lost - lost_startup)
    elapsed_s = max(1e-6, (last_commit - t_go) / 1e6)
    return {
        "errors": errors,
        "attempted": sent_total,
        "failed": lost,
        "e2e": {
            "latency_p50_ms": pct(lat, 50),
            "latency_p95_ms": pct(lat, 95),
            "items_per_s": drained / elapsed_s,
            "setup_s": t_go / 1e6 - run.t_start,
        },
        "layers": {
            "mem.peak_rss_mb": rss,
            "gen.late_ms_p99": (max(report["t_done_us"]) - t_go) / 1000.0,
            "gen.frames_sent": float(sent_total),
            "ingest.lag_ms_p50": pct(ingest, 50),
            "ingest.lag_ms_p95": pct(ingest, 95),
            "pipeline.sink_lag_ms_p50": pct(sink_lag, 50),
            "pipeline.frames_sampled": float(len(lat)),
            "loss.startup_frames": float(lost_startup),
            "loss.steady_frames": float(lost - lost_startup),
            "loss.frames_lost_frac": lost / max(1, sent_total),
            **_progress_metrics(
                progress, set(np.concatenate(batch_ids).tolist()) if batch_ids else set()
            ),
        },
        "window_ns": (t_go * 1000, now_us() * 1000),
    }
