"""Span recording for the traced run (``--trace 1``).

Spans are recorded around the public reader methods of the two WebSocket
sources, by subclasses defined here and registered by the benchmark; the
program's own code carries no tracing. Every process keeps its spans in
memory and appends them to ``$PERFBENCH_SPAN_DIR/spans-<pid>.jsonl`` at
interpreter exit and wherever its work ends earlier than that: Spark
kills the source planner process without calling ``stop()`` on a simple
reader, so the planner writes at each ``commit``; executor Python workers
end with ``os._exit``, so they write when a partition has been read.

A span is ``name, start_ns, end_ns, id, parent, trace``: ``trace`` is the
micro-batch it belongs to (the batch's end offset, summed over feeds), so
the planner's ``partitions`` span and the executor ``unpack`` spans of one
batch share it, and ``parent`` links an executor span to the planner span
whose partition it reads.
"""

from __future__ import annotations

import atexit
import itertools
import json
import os
import threading
import time

from ws_to_kafka_spark.sources.websocket import (
    MultiWebSocketDataSource,
    MultiWebSocketStreamReader,
    WebSocketDataSource,
    WebSocketStreamReader,
)

SPAN_DIR_ENV = "PERFBENCH_SPAN_DIR"

#: Layers the traced run reports busy and self time for.
LAYERS = (
    "websocket.read",
    "websocket.latest_offset",
    "websocket.partitions",
    "websocket.unpack",
    "websocket.commit",
)


class _Recorder:
    """Per-process in-memory span buffer."""

    def __init__(self):
        self.spans: list[dict] = []
        self.lock = threading.Lock()
        self.ids = itertools.count()
        atexit.register(self.flush)

    def new_id(self) -> str:
        return f"{os.getpid()}-{next(self.ids)}"

    def add(self, span: dict) -> None:
        with self.lock:
            self.spans.append(span)

    def flush(self) -> None:
        out_dir = os.environ.get(SPAN_DIR_ENV)
        with self.lock:
            spans, self.spans = self.spans, []
        if not spans or not out_dir:
            return
        with open(os.path.join(out_dir, f"spans-{os.getpid()}.jsonl"), "a") as fh:
            fh.writelines(json.dumps(s) + "\n" for s in spans)


_REC: _Recorder | None = None


def recorder() -> _Recorder:
    global _REC
    if _REC is None:
        _REC = _Recorder()
    return _REC


class span:
    """``with span(name, trace=..., parent=...) as s:`` records one span;
    ``s.attrs`` is written with it."""

    def __init__(self, name: str, trace=None, parent: str | None = None):
        self.name, self.trace, self.parent = name, trace, parent
        self.id = recorder().new_id()
        self.attrs: dict = {}

    def __enter__(self):
        self.start = time.time_ns()
        return self

    def __exit__(self, *exc):
        recorder().add(
            {
                "name": self.name,
                "start_ns": self.start,
                "end_ns": time.time_ns(),
                "id": self.id,
                "parent": self.parent,
                "trace": self.trace,
                **self.attrs,
            }
        )
        return False


class TracedWebSocketStreamReader(WebSocketStreamReader):
    def read(self, start: dict):
        with span("websocket.read", trace=start["index"]):
            return super().read(start)

    def commit(self, end: dict) -> None:
        with span("websocket.commit", trace=end["index"]):
            super().commit(end)
        recorder().flush()

    def stop(self) -> None:
        super().stop()
        recorder().flush()


class TracedWebSocketDataSource(WebSocketDataSource):
    def simpleStreamReader(self, schema):
        return TracedWebSocketStreamReader(dict(self.options))


def _unpack(batches, trace, parent):
    """Executor-side read of one partition: the ``websocket.unpack`` span
    runs from the first request to exhaustion; each RecordBatch the
    program produces is a child ``websocket.unpack.batch`` span, so the
    parent's self time is the time spent handing batches to Spark."""
    try:
        with span("websocket.unpack", trace=trace, parent=parent) as outer:
            it = iter(batches)
            while True:
                with span("websocket.unpack.batch", trace=trace, parent=outer.id):
                    item = next(it, None)
                if item is None:
                    break
                yield item
    finally:
        recorder().flush()


class TracedMultiWebSocketStreamReader(MultiWebSocketStreamReader):
    def latestOffset(self) -> dict:
        with span("websocket.latest_offset") as s:
            out = super().latestOffset()
            s.trace = sum(out["feeds"])
        return out

    def partitions(self, start: dict, end: dict):
        from pyspark.serializers import CloudPickleSerializer

        trace = sum(end["feeds"])
        with span("websocket.partitions", trace=trace) as s:
            parts = super().partitions(start, end)
        for p in parts:
            p.trace_parent, p.trace_id = s.id, trace
        with span("websocket.partition_pickle", trace=trace) as sz:
            ser = CloudPickleSerializer()
            sz.attrs["bytes"] = sum(len(ser.dumps(p)) for p in parts)
        return parts

    def read(self, partition):
        return _unpack(
            super().read(partition),
            getattr(partition, "trace_id", None),
            getattr(partition, "trace_parent", None),
        )

    def commit(self, end: dict) -> None:
        with span("websocket.commit", trace=sum(end["feeds"])):
            super().commit(end)
        recorder().flush()

    def stop(self) -> None:
        super().stop()
        recorder().flush()


class TracedMultiWebSocketDataSource(MultiWebSocketDataSource):
    def streamReader(self, schema):
        return TracedMultiWebSocketStreamReader(dict(self.options))


def load_spans(span_dir: str) -> list[dict]:
    spans = []
    for name in sorted(os.listdir(span_dir)):
        if name.startswith("spans-"):
            with open(os.path.join(span_dir, name)) as fh:
                spans.extend(json.loads(line) for line in fh if line.strip())
    return spans


def layer_times(spans: list[dict], lo_ns: int, hi_ns: int) -> dict:
    """Busy and self milliseconds per layer over spans that start in
    ``[lo_ns, hi_ns)``. Self time is a span's duration minus the part of
    it covered by its children (the union of their intervals, clipped to
    the parent's)."""
    children: dict[str, list[tuple[int, int]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for layer in LAYERS:
        busy = own = 0
        for s in spans:
            if s["name"] != layer or not lo_ns <= s["start_ns"] < hi_ns:
                continue
            a, b = s["start_ns"], s["end_ns"]
            covered, cursor = 0, a
            for c0, c1 in sorted(children.get(s["id"], ())):
                c0, c1 = max(c0, cursor), min(c1, b)
                if c1 > c0:
                    covered += c1 - c0
                    cursor = c1
            busy += b - a
            own += b - a - covered
        out[f"{layer}.busy_ms"] = busy / 1e6
        out[f"{layer}.self_ms"] = own / 1e6
    out["websocket.partition_bytes"] = float(
        sum(
            s.get("bytes", 0)
            for s in spans
            if s["name"] == "websocket.partition_pickle" and lo_ns <= s["start_ns"] < hi_ns
        )
    )
    out["websocket.spans"] = float(
        sum(1 for s in spans if lo_ns <= s["start_ns"] < hi_ns)
    )
    return out
