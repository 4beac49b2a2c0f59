"""Load generator for the ``ingest_query`` workload: one process, one
thread, three TCP connections to a riemann ``Msg`` server.

Run by ``ingest_query.py``; not meant to be started by hand.
Protocol with the parent: the generator builds every frame first,
prints ``ready``, waits for ``go`` on stdin, runs the phases and prints
one JSON report as its last stdout line.

- Phase A (open loop): frames of ``datagen.PER_FRAME`` events are due
  at ``datagen.RATE`` events/s, alternating between connections 0 and
  1, and are sent when due whatever the server's state. Ack latency is
  timed from each frame's due time; ``lag`` is how late the generator
  sent it. Connection 2 sends ``query`` Msgs closed-loop from a fixed
  corpus.
- Phase B (closed loop): connections 0 and 1 each keep
  ``datagen.WINDOW`` frames outstanding until a fixed number of frames
  is acked; the acked-event rate is the saturation rate.

Frames are taken from one deterministic sequence (``datagen.wire_columns``)
in order, so the parent can rebuild exactly what was sent from the seed
and the number of frames acked.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import selectors
import socket
import struct
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402

def _uv(n: int) -> bytes:
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _ld(tag: int, b: bytes) -> bytes:
    return bytes((tag,)) + _uv(len(b)) + b


def encode_frame(events: list[dict], cache: dict) -> bytes:
    """Encode a ``Msg`` carrying ``events`` with the public riemann
    protobuf layout, written independently of the engine's codec (the
    self-tests pin it byte-for-byte to ``encode_msg``). Only the fields
    ``datagen.wire_event`` produces are handled; ``cache`` keeps the
    encoded string fields of each (state, service, host)."""
    out = bytearray()
    for e in events:
        t_us = e["time_us"]
        key = (e["state"], e["service"], e["host"])
        pieces = cache.get(key)
        if pieces is None:
            pieces = cache[key] = (
                _ld(0x12, e["state"].encode())
                + _ld(0x1A, e["service"].encode())
                + _ld(0x22, e["host"].encode())
                + b"".join(_ld(0x3A, t.encode()) for t in e["tags"])
            )
        m = e["metric"]
        if m.is_integer():
            mb = b"\x68" + _uv(2 * int(m))  # sint64, zigzag of m >= 0
        else:
            mb = b"\x71" + struct.pack("<d", m)
        ev = (
            b"\x08" + _uv(t_us // 1_000_000) + pieces
            + b"\x45" + struct.pack("<f", e["ttl"])
            + b"\x50" + _uv(t_us) + mb + b"\x7d" + struct.pack("<f", m)
        )
        out += _ld(0x32, ev)
    return bytes(out)


def build_frames(seed: int, n_frames: int, per_frame: int, after_us: int) -> list[bytes]:
    cols = datagen.wire_columns(seed, n_frames * per_frame, after_us)
    cache: dict = {}
    return [
        encode_frame([datagen.wire_event(cols, i) for i in range(lo, lo + per_frame)], cache)
        for lo in range(0, n_frames * per_frame, per_frame)
    ]


B_WINDOW_S = 0.25


def windowed_rate(stamps: list[float], t0: float, window: float) -> float:
    """Median over whole ``window``-long intervals after ``t0`` of the
    number of stamps per second: a stall in one interval moves one
    sample, not the rate."""
    n = int((max(stamps) - t0) // window) if stamps else 0
    if n < 1:
        return len(stamps) / max((max(stamps, default=t0) - t0), 1e-9)
    counts = [0] * n
    for t in stamps:
        k = int((t - t0) // window)
        if k < n:
            counts[k] += 1
    counts.sort()
    mid = n // 2
    med = counts[mid] if n % 2 else (counts[mid - 1] + counts[mid]) / 2
    return med / window


def reply_digest(events) -> str:
    """Order-free digest of the (host, service) keys in a query reply."""
    keys = sorted(f"{e.get('host')}\x1f{e.get('service')}" for e in events)
    return hashlib.sha1("\n".join(keys).encode()).hexdigest()


class Conn:
    """A non-blocking framed connection: an output buffer and a parser
    for 4-byte length-prefixed replies."""

    def __init__(self, port: int, idx: int) -> None:
        self.idx = idx
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=10)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.sock.setblocking(False)
        self.out = bytearray()
        self.inbuf = bytearray()
        self.pending: list = []  # FIFO of per-request bookkeeping

    def queue(self, payload: bytes, info) -> None:
        self.out += struct.pack(">I", len(payload)) + payload
        self.pending.append(info)

    def flush(self) -> None:
        while self.out:
            try:
                n = self.sock.send(self.out)
            except BlockingIOError:
                return
            del self.out[:n]

    def replies(self) -> list[bytes]:
        """Read what is available; return complete reply payloads."""
        while True:
            try:
                chunk = self.sock.recv(1 << 16)
            except BlockingIOError:
                break
            if not chunk:
                raise ConnectionError(f"connection {self.idx} closed by server")
            self.inbuf += chunk
        out = []
        while len(self.inbuf) >= 4:
            (ln,) = struct.unpack_from(">I", self.inbuf)
            if len(self.inbuf) < 4 + ln:
                break
            out.append(bytes(self.inbuf[4 : 4 + ln]))
            del self.inbuf[: 4 + ln]
        return out


def run(args) -> dict:
    from riemann_spark.sources.protobuf import decode_msg, encode_msg

    ack_ok = encode_msg(ok=True)
    n_a = int(datagen.RATE * args.phase_a_s / datagen.PER_FRAME)
    n_frames = n_a + args.b_frames
    frames = build_frames(args.seed, n_frames, datagen.PER_FRAME, args.after_us)
    with open(args.queries) as fh:
        corpus = json.load(fh)

    conns = [Conn(args.port, i) for i in range(3)]
    sel = selectors.DefaultSelector()
    for c in conns:
        sel.register(c.sock, selectors.EVENT_READ, c)

    rep = {
        "frames_sent": 0, "frames_acked": 0, "acks_not_ok": 0,
        "ack_ms": [], "lag_ms": [], "queries": [],
        "b_frames_acked": 0, "b_events_per_s": 0.0,
    }
    next_frame = 0
    qi = 0

    def send_query(now: float) -> None:
        nonlocal qi
        q = corpus[qi % len(corpus)]
        conns[2].queue(encode_msg(query=q), (qi % len(corpus), now))
        conns[2].flush()
        qi += 1

    def pump(timeout: float, on_ack, phase_a: bool) -> None:
        for key, _ in sel.select(timeout):
            c = key.data
            for payload in c.replies():
                now = time.time()
                info = c.pending.pop(0)
                if c.idx == 2:
                    if phase_a:
                        m = decode_msg(payload)
                        q_idx, t_sent = info
                        rep["queries"].append(
                            [q_idx, (now - t_sent) * 1e3, bool(m["ok"]),
                             len(m["events"]), reply_digest(m["events"])]
                        )
                        send_query(now)
                    continue
                if payload != ack_ok:
                    rep["acks_not_ok"] += 1
                rep["frames_acked"] += 1
                on_ack(c, info, now)
        for c in conns:
            c.flush()

    print("ready", flush=True)
    if sys.stdin.readline().strip() != "go":
        return rep

    # ---- phase A: open-loop writes at a fixed rate + closed-loop queries
    frame_gap = datagen.PER_FRAME / datagen.RATE
    t0 = time.time()
    send_query(t0)

    def ack_a(c, due, now):
        rep["ack_ms"].append((now - due) * 1e3)

    while next_frame < n_a:
        now = time.time()
        due = t0 + next_frame * frame_gap
        if now >= due:
            c = conns[next_frame % 2]
            c.queue(frames[next_frame], due)
            c.flush()
            rep["lag_ms"].append((now - due) * 1e3)
            next_frame += 1
            rep["frames_sent"] += 1
            continue
        pump(due - now, ack_a, True)
    while conns[0].pending or conns[1].pending:
        pump(1.0, ack_a, True)
    while conns[2].pending:  # let the last query finish; it is not re-sent
        pump(1.0, ack_a, False)

    # ---- phase B: closed-loop saturation, WINDOW frames in flight each
    tb = time.time()
    last_ack = tb

    def send_b(c) -> None:
        nonlocal next_frame
        if next_frame >= n_frames:
            return
        c.queue(frames[next_frame], next_frame)
        next_frame += 1
        rep["frames_sent"] += 1

    b_acks: list[float] = []

    def ack_b(c, _info, now):
        nonlocal last_ack
        last_ack = now
        b_acks.append(now)
        rep["b_frames_acked"] += 1
        send_b(c)

    for c in conns[:2]:
        for _ in range(datagen.WINDOW):
            send_b(c)
        c.flush()
    while conns[0].pending or conns[1].pending:
        pump(1.0, ack_b, False)
    rep["b_events_per_s"] = windowed_rate(b_acks, tb, B_WINDOW_S) * datagen.PER_FRAME
    rep["last_ack"] = last_ack
    for c in conns:
        sel.unregister(c.sock)
        c.sock.close()
    return rep


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--phase-a-s", type=float, required=True)
    ap.add_argument("--b-frames", type=int, required=True)
    ap.add_argument("--after-us", type=int, required=True)
    ap.add_argument("--queries", required=True, help="JSON list of query strings")
    rep = run(ap.parse_args())
    print(json.dumps(rep, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
