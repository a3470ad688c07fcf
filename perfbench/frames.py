"""Deterministic frame payloads shared by the generator and the checker.

A frame is a pure function of ``(seed, mix, feed, seq, due_us)``, so the
checker rebuilds the exact bytes the generator sent instead of keeping a
copy. Every frame, text or binary, carries its sequence number as 10 ASCII
digits at bytes ``[8, 18)`` and its due time (epoch microseconds) as 16
ASCII digits at bytes ``[27, 43)``.

Mixes:

* ``ticker``: ~200 B trade-like JSON text frames (the live feed).
* ``drain``: 100-400 B JSON text frames, with about 1 % large text frames
  of 2-70 KiB (a tenth of those above 64 KiB, so both the 16-bit and the
  64-bit extended length headers occur) and about 1 % binary frames that
  are not valid UTF-8.
"""

from __future__ import annotations

import random
import string

SEQ = slice(8, 18)
DUE = slice(27, 43)

OP_TEXT = 0x1
OP_BINARY = 0x2

_M64 = (1 << 64) - 1
_POOL = 128 * 1024
_SYMBOLS = ("BTCUSDT", "ETHUSDT", "SOLUSDT", "XRPUSDT", "ADAUSDT", "DOGEUSDT")
_BIN_HEAD = b"\xff\xfe\xfd\xfc\xfb\xfa\xf9\xf8"
_BIN_GAP = b"\xff" * 9


def _mix64(x: int) -> int:
    """splitmix64 finaliser: a cheap, well-spread per-frame hash."""
    z = (x + 0x9E3779B97F4A7C15) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return z ^ (z >> 31)


class FrameMaker:
    """Builds the payload of frame ``seq`` on ``feed`` for one seed."""

    def __init__(self, seed: int, mix: str):
        if mix not in ("ticker", "drain"):
            raise ValueError(f"unknown frame mix {mix!r}")
        rnd = random.Random(seed)
        self._text = "".join(
            rnd.choices(string.ascii_letters + string.digits, k=_POOL)
        ).encode()
        self._bin = rnd.randbytes(_POOL)
        self._key = (seed & 0xFFFFFF) << 40
        self._mix = mix

    def make(self, feed: int, seq: int, due_us: int) -> tuple[int, bytes]:
        """(opcode, payload) of one frame."""
        h = _mix64(self._key ^ (feed << 32) ^ seq)
        kind = h % 100
        if self._mix == "drain" and kind == 1:
            size = 64 + (h >> 8) % 337
            lo = (h >> 24) % (_POOL - size)
            head = b"%s%010d%s%016d" % (_BIN_HEAD, seq, _BIN_GAP, due_us)
            return OP_BINARY, head + self._bin[lo:lo + size - len(head)]
        head = b'{"seq":"%010d","due":"%016d","f":%d,"s":"%s","p":"%d.%02d","q":"%d.%04d","pad":"' % (
            seq,
            due_us,
            feed,
            _SYMBOLS[(h >> 8) % len(_SYMBOLS)].encode(),
            100 + (h >> 12) % 90000,
            (h >> 30) % 100,
            (h >> 37) % 50,
            (h >> 43) % 10000,
        )
        if self._mix == "ticker":
            size = 190 + (h >> 50) % 21
        elif kind == 0:
            if (h >> 8) % 10 == 0:
                size = 65536 + (h >> 16) % (70 * 1024 - 65536)
            else:
                size = 2048 + (h >> 16) % (16 * 1024 - 2048)
        else:
            size = 100 + (h >> 8) % 301
        pad = max(0, size - len(head) - 2)
        lo = (h >> 24) % (_POOL - pad)
        return OP_TEXT, head + self._text[lo:lo + pad] + b'"}'

