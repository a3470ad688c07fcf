"""Seeded WebSocket feed generator, run as its own process.

Usage (driven by ``perfbench/streams.py``)::

    python3 -m perfbench.wsgen '{"seed": 1, "mode": "live", ...}'

It listens on 127.0.0.1, prints ``{"url": ...}`` and then answers one JSON
line per command read from stdin (``state``, ``go``, ``stop``,
``report``). End of stdin shuts it down.

Modes:

* ``live``: open loop. From the moment a connection's subscribe message
  arrives, frame ``seq`` is due at ``t0 + seq / rate`` and is sent on a
  1 ms tick whether or not the consumer keeps up. How late each tick went
  out is recorded.
* ``drain``: after the subscribe message, ``prelude`` frames go out at
  once; the seeded backlog of ``backlog`` frames is built in memory and
  released on ``go``, written as fast as TCP takes it.

The server side of RFC 6455 (handshake, unmasked server frames, masked
client frames, ping/pong, close) is implemented here so the generator
shares no code with the system under test.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import socket
import struct
import sys
import threading
import time

import numpy as np

from perfbench.frames import DUE, FrameMaker

_WS_GUID = b"258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
_TICK_S = 0.001


def now_us() -> int:
    return time.time_ns() // 1000


def frame_header(opcode: int, n: int) -> bytes:
    """Unmasked server frame header with the RFC 6455 length encodings."""
    if n < 126:
        return bytes((0x80 | opcode, n))
    if n < 65536:
        return struct.pack(">BBH", 0x80 | opcode, 126, n)
    return struct.pack(">BBQ", 0x80 | opcode, 127, n)


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed")
        buf += chunk
    return bytes(buf)


def _handshake(sock: socket.socket) -> None:
    req = b""
    while b"\r\n\r\n" not in req:
        chunk = sock.recv(4096)
        if not chunk:
            raise ConnectionError("closed during handshake")
        req += chunk
    key = b""
    for line in req.split(b"\r\n"):
        name, _, value = line.partition(b":")
        if name.strip().lower() == b"sec-websocket-key":
            key = value.strip()
    accept = base64.b64encode(hashlib.sha1(key + _WS_GUID).digest())
    sock.sendall(
        b"HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
        b"Connection: Upgrade\r\nSec-WebSocket-Accept: " + accept + b"\r\n\r\n"
    )


class Conn:
    """One accepted client connection, i.e. one feed."""

    def __init__(self, feed: int, sock: socket.socket):
        self.feed = feed
        self.sock = sock
        self.send_lock = threading.Lock()
        self.subscribed = threading.Event()
        self.ready = threading.Event()
        self.received: list[tuple[int, int, str]] = []  # (t_us, opcode, text)
        self.t0_us = 0
        self.sent = 0
        self.t_done_us = 0
        self.sender: threading.Thread | None = None

    def send(self, data) -> None:
        with self.send_lock:
            self.sock.sendall(data)

    def read_loop(self) -> None:
        """Record every client message; answer pings; stop on close."""
        try:
            while True:
                b0, b1 = _recv_exact(self.sock, 2)
                op, n = b0 & 0x0F, b1 & 0x7F
                if n == 126:
                    (n,) = struct.unpack(">H", _recv_exact(self.sock, 2))
                elif n == 127:
                    (n,) = struct.unpack(">Q", _recv_exact(self.sock, 8))
                mask = _recv_exact(self.sock, 4) if b1 & 0x80 else b"\0\0\0\0"
                data = bytes(
                    b ^ mask[i % 4] for i, b in enumerate(_recv_exact(self.sock, n))
                )
                if op == 0x9:
                    self.send(frame_header(0xA, len(data)) + data)
                    continue
                if op == 0x8:
                    return
                if op in (0x1, 0x2):
                    self.received.append(
                        (now_us(), op, data.decode("utf-8", "replace"))
                    )
                    self.subscribed.set()
        except (OSError, ConnectionError):
            return


class Generator:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.mode = cfg["mode"]
        self.maker = FrameMaker(int(cfg["seed"]), "ticker" if self.mode == "live" else "drain")
        self.max_conns = min(int(cfg.get("feeds", 1)), os.cpu_count() or 1)
        self.conns: list[Conn] = []
        self.rejected = 0
        self.stop = threading.Event()
        self.go = threading.Event()
        self.t_go_us = 0
        self.late_us: list[int] = []
        self.listener = socket.create_server(("127.0.0.1", 0))
        self.url = f"ws://127.0.0.1:{self.listener.getsockname()[1]}/feed"
        self.threads: list[threading.Thread] = []

    def _spawn(self, target, *args) -> threading.Thread:
        t = threading.Thread(target=target, args=args, daemon=True)
        t.start()
        self.threads.append(t)
        return t

    def accept_loop(self) -> None:
        while True:
            try:
                sock, _ = self.listener.accept()
            except OSError:
                return
            if len(self.conns) >= self.max_conns:
                self.rejected += 1
                sock.close()
                continue
            try:
                _handshake(sock)
            except (OSError, ConnectionError):
                sock.close()
                continue
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            conn = Conn(len(self.conns), sock)
            self.conns.append(conn)
            self._spawn(conn.read_loop)
            conn.sender = self._spawn(
                self.live_sender if self.mode == "live" else self.drain_sender, conn
            )

    def _wire(self, feed: int, seq: int, due: int) -> bytes:
        op, payload = self.maker.make(feed, seq, due)
        return frame_header(op, len(payload)) + payload

    def live_sender(self, conn: Conn) -> None:
        conn.subscribed.wait()
        period_us = 1_000_000 / float(self.cfg["rate"])
        conn.t0_us = t0 = now_us()
        seq = 0
        try:
            while not self.stop.is_set():
                due_n = int((now_us() - t0) / period_us) + 1
                if due_n > seq:
                    chunk = b"".join(
                        self._wire(conn.feed, s, t0 + int(s * period_us))
                        for s in range(seq, due_n)
                    )
                    conn.send(chunk)
                    self.late_us.append(now_us() - (t0 + int(seq * period_us)))
                    seq = due_n
                    conn.sent = seq
                time.sleep(_TICK_S)
        except OSError:
            pass
        conn.t_done_us = now_us()

    def drain_sender(self, conn: Conn) -> None:
        conn.subscribed.wait()
        conn.t0_us = t0 = now_us()
        prelude = int(self.cfg["prelude"])
        try:
            conn.send(b"".join(self._wire(conn.feed, s, t0) for s in range(prelude)))
            conn.sent = prelude
            # backlog built with a zero due field, patched in place at go
            buf, due_at = bytearray(), []
            for s in range(prelude, prelude + int(self.cfg["backlog"])):
                op, payload = self.maker.make(conn.feed, s, 0)
                buf += frame_header(op, len(payload))
                due_at.append(len(buf) + DUE.start)
                buf += payload
            wire = np.frombuffer(buf, dtype=np.uint8)
            cols = np.asarray(due_at, dtype=np.int64)[:, None] + np.arange(
                DUE.stop - DUE.start
            )
            conn.ready.set()
            self.go.wait()
            wire[cols] = np.frombuffer(b"%016d" % self.t_go_us, dtype=np.uint8)
            view = memoryview(wire)
            for lo in range(0, len(view), 1 << 20):
                conn.send(view[lo:lo + (1 << 20)])
            conn.sent = prelude + int(self.cfg["backlog"])
        except OSError:
            pass
        conn.t_done_us = now_us()

    def command(self, cmd: str) -> dict:
        if cmd == "state":
            return {
                "connections": len(self.conns),
                "subscribed": sum(c.subscribed.is_set() for c in self.conns),
                "ready": sum(c.ready.is_set() for c in self.conns),
                "sent": [c.sent for c in self.conns],
            }
        if cmd == "go":
            self.t_go_us = now_us()
            self.go.set()
            return {"t_go_us": self.t_go_us}
        if cmd == "stop":
            self.stop.set()
            t_stop = now_us()
            for c in self.conns:
                c.sender.join(timeout=10)
            return {"t_stop_us": t_stop, "sent": [c.sent for c in self.conns]}
        if cmd == "report":
            late = np.asarray(self.late_us or [0], dtype=np.float64) / 1000.0
            return {
                "mode": self.mode,
                "connections": len(self.conns),
                "rejected": self.rejected,
                "t0_us": [c.t0_us for c in self.conns],
                "t_go_us": self.t_go_us,
                "t_done_us": [c.t_done_us for c in self.conns],
                "sent": [c.sent for c in self.conns],
                "received": [c.received for c in self.conns],
                "late_ms_p50": float(np.percentile(late, 50)),
                "late_ms_p99": float(np.percentile(late, 99)),
                "late_ticks": len(self.late_us),
            }
        return {"error": f"unknown command {cmd!r}"}

    def close(self) -> None:
        self.stop.set()
        self.go.set()
        try:
            self.listener.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.listener.close()
        for c in self.conns:
            try:
                c.sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            c.sock.close()
        for t in self.threads:
            t.join(timeout=5)


def main(argv: list[str]) -> int:
    gen = Generator(json.loads(argv[1]))
    gen._spawn(gen.accept_loop)
    print(json.dumps({"url": gen.url}), flush=True)
    try:
        for line in sys.stdin:
            print(json.dumps(gen.command(line.strip())), flush=True)
    finally:
        gen.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
