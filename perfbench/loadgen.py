"""Out-of-process load generator and MQTT 3.1.1 receiver.

Runs as its own process (`python3 perfbench/loadgen.py`), so neither the
generator's schedule nor the receiver's socket handling competes with the
driver's interpreter. It uses three threads: the command loop (JSON lines
on stdin/stdout), one selector thread that accepts and parses MQTT frames,
and one open-loop writer.

Generated inputs are files appended to a directory the engine streams
from. Files are written into a staging directory and renamed into the
watched one, so the engine never lists a half-written file; a backlog's
files are all written before the first is renamed, so they appear within
a millisecond and the engine lists them together. Payloads are
rendered before the schedule starts; each open-loop file's lines are
joined ahead of its due time.

Commands (one JSON object per line, one reply line each):
  {"cmd": "sensor_files", "dir", "first", "n", "files"}  write now
  {"cmd": "sensor_open_loop", "dir", "first", "rate", "seconds"}
  {"cmd": "docs_open_loop", "dir", "first_id", "rate", "seconds"}
  {"cmd": "wait_open_loop"}      -> schedule stats once the writer is done
  {"cmd": "receiver_stats"}      -> counters, connections and alert multiset
  {"cmd": "quit"}
"""

from __future__ import annotations

import json
import os
import selectors
import socket
import sys
import threading
import time
from collections import Counter

import numpy as np

from corpus import random_text, unit_vectors

TICK_S = 0.1  # one file per tick in the open-loop schedules
LEAD_S = 0.5  # pre-render headroom before the first due time


# ------------------------------------------------------------ records


def _mix(seed: int, idx: np.ndarray) -> np.ndarray:
    """splitmix64 of (seed, index): a pure per-record hash, vectorized."""
    with np.errstate(over="ignore"):
        z = idx.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def sensor_values(seed: int, first: int, n: int) -> list[str | None]:
    """Values of records first..first+n-1, each a pure function of (seed,
    index): the sources/sensor_sim.sim_record mix (NULL, garbage, JSON,
    bare scalar) with a 2-decimal reading in 60.00-99.99 °F, so both
    sides of the 75 °F limit carry volume."""
    temps = 60.0 + (_mix(seed, np.arange(first, first + n)) % np.uint64(4000)) / 100
    out: list[str | None] = []
    for j, t in enumerate(temps.tolist()):
        i = first + j
        if i % 17 == 13:
            out.append(None)
        elif i % 10 == 7:
            out.append(f"not-a-reading-{i}")
        elif i % 3 == 0:
            out.append(json.dumps({"bme680_tempf": f"{t:.2f}", "uuid": f"gen-{i}"}))
        else:
            out.append(f"{t:.2f}")
    return out


def sensor_key(i: int, created: float) -> str:
    """Keys are unique per record and carry its creation time (µs)."""
    return f"r{i}@{int(created * 1e6)}"


def sensor_line(key: str, value: str | None) -> str:
    return json.dumps({"key": key, "value": value}) + "\n"


def doc_rows(seed: int, first_id: int, n: int) -> list[dict]:
    """(doc_id, text, embedding) rows of the hybrid ingest stream."""
    rng = np.random.default_rng([seed, 3, first_id])
    vecs = unit_vectors(rng, n)
    lengths = rng.integers(10, 60, n)
    rows = []
    for j in range(n):
        rows.append(
            {
                "doc_id": first_id + j,
                "text": random_text(rng, lengths[j]),
                "embedding": [round(float(x), 6) for x in vecs[j]],
            }
        )
    return rows


def _publish_files(directory: str, files: list[tuple[str, str]]) -> float:
    """Write each (name, data) into a staging directory next to
    `directory`, then rename them all into it; returns the time of the
    first rename (when the first file became visible)."""
    staging = os.path.join(os.path.dirname(directory.rstrip("/")), "_staging")
    os.makedirs(staging, exist_ok=True)
    for name, data in files:
        with open(os.path.join(staging, name), "w") as fh:
            fh.write(data)
    t_first = time.time()
    for name, _ in files:
        os.rename(os.path.join(staging, name), os.path.join(directory, name))
    return t_first


# ------------------------------------------------------------ MQTT


class FrameParser:
    """Incremental MQTT 3.1.1 frame splitter over buffered reads: feed()
    bytes, get back (packet_type, flags, body) for every complete frame."""

    def __init__(self) -> None:
        self._buf = bytearray()

    def feed(self, data: bytes) -> list[tuple[int, int, bytes]]:
        self._buf += data
        frames = []
        while True:
            frame = self._next()
            if frame is None:
                return frames
            frames.append(frame)

    def _next(self) -> tuple[int, int, bytes] | None:
        buf = self._buf
        if len(buf) < 2:
            return None
        length, mult, pos = 0, 1, 1
        while True:
            if pos >= len(buf):
                return None
            b = buf[pos]
            length += (b & 0x7F) * mult
            pos += 1
            if not b & 0x80:
                break
            mult *= 128
            if pos > 4:
                raise ValueError("malformed remaining length (>4 bytes)")
        if len(buf) < pos + length:
            return None
        head = buf[0]
        body = bytes(buf[pos : pos + length])
        del buf[: pos + length]
        return head >> 4, head & 0x0F, body


def parse_publish(flags: int, body: bytes) -> tuple[str, bytes]:
    """QoS-0 PUBLISH variable header + payload -> (topic, payload)."""
    if (flags >> 1) & 0x03:
        raise ValueError("receiver accepts QoS 0 publishes only")
    n = int.from_bytes(body[:2], "big")
    return body[2 : 2 + n].decode("utf-8"), body[2 + n :]


def parse_connect(body: bytes) -> str:
    """CONNECT -> client id; checks protocol name and level 4 (3.1.1)."""
    n = int.from_bytes(body[:2], "big")
    if body[2 : 2 + n] != b"MQTT" or body[2 + n] != 4:
        raise ValueError("not an MQTT 3.1.1 CONNECT")
    p = 2 + n + 4  # level, flags, keepalive(2)
    cn = int.from_bytes(body[p : p + 2], "big")
    return body[p + 2 : p + 2 + cn].decode("utf-8")


CONNECT, PUBLISH, PINGREQ, DISCONNECT = 1, 3, 12, 14
CONNACK_OK = bytes([0x20, 0x02, 0x00, 0x00])
PINGRESP = bytes([0xD0, 0x00])


class _Conn:
    __slots__ = ("parser", "client_id", "t_connect", "t_disconnect", "publishes", "bytes")

    def __init__(self) -> None:
        self.parser = FrameParser()
        self.client_id = ""
        self.t_connect = time.time()
        self.t_disconnect: float | None = None
        self.publishes = 0
        self.bytes = 0


class Receiver:
    """MQTT broker stand-in that only receives: one selector thread,
    CONNACK for CONNECT, counts QoS-0 PUBLISH payloads per connection."""

    def __init__(self) -> None:
        self.sel = selectors.DefaultSelector()
        self.lsock = socket.socket()
        self.lsock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.lsock.bind(("127.0.0.1", 0))
        self.lsock.listen(256)
        self.lsock.setblocking(False)
        self.port = self.lsock.getsockname()[1]
        self.sel.register(self.lsock, selectors.EVENT_READ)
        self.lock = threading.Lock()
        self.alerts: Counter[str] = Counter()
        self.conns: list[_Conn] = []
        self.errors = 0
        self.busy_s = 0.0
        self.t_start = time.time()
        self._stop = False
        self.thread = threading.Thread(target=self._loop, daemon=True)
        self.thread.start()

    def _loop(self) -> None:
        while not self._stop:
            events = self.sel.select(timeout=0.1)
            t0 = time.perf_counter()
            for key, _ in events:
                if key.fileobj is self.lsock:
                    self._accept()
                else:
                    self._read(key.fileobj, key.data)
            self.busy_s += time.perf_counter() - t0

    def _accept(self) -> None:
        try:
            sock, _ = self.lsock.accept()
        except BlockingIOError:
            return
        sock.setblocking(False)
        conn = _Conn()
        with self.lock:
            self.conns.append(conn)
        self.sel.register(sock, selectors.EVENT_READ, conn)

    def _read(self, sock: socket.socket, conn: _Conn) -> None:
        try:
            data = sock.recv(1 << 16)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            data = b""
        if data:
            try:
                frames = conn.parser.feed(data)
            except ValueError:
                frames = None
            if frames is not None:
                self._handle(sock, conn, frames)
                return
            with self.lock:
                self.errors += 1
        self.sel.unregister(sock)
        sock.close()
        if conn.t_disconnect is None:  # closed without DISCONNECT
            with self.lock:
                self.errors += 1
                conn.t_disconnect = time.time()

    def _handle(self, sock, conn: _Conn, frames) -> None:
        for ptype, flags, body in frames:
            if ptype == PUBLISH:
                _, payload = parse_publish(flags, body)
                with self.lock:
                    self.alerts[payload.decode("utf-8")] += 1
                    conn.publishes += 1
                    conn.bytes += len(body) + 2
            elif ptype == CONNECT:
                conn.client_id = parse_connect(body)
                sock.setblocking(True)
                sock.sendall(CONNACK_OK)
                sock.setblocking(False)
            elif ptype == PINGREQ:
                sock.sendall(PINGRESP)
            elif ptype == DISCONNECT:
                with self.lock:
                    conn.t_disconnect = time.time()

    def stats(self) -> dict:
        with self.lock:
            conns = [
                [c.t_connect, c.t_disconnect, c.publishes, c.bytes]
                for c in self.conns
            ]
            return {
                "connections": len(self.conns),
                "open": sum(c.t_disconnect is None for c in self.conns),
                "publishes": sum(c.publishes for c in self.conns),
                "bytes": sum(c.bytes for c in self.conns),
                "errors": self.errors,
                "busy_fraction": self.busy_s / max(time.time() - self.t_start, 1e-9),
                "conns": conns,
                "client_ids": sorted({c.client_id for c in self.conns}),
                "alerts": dict(self.alerts),
            }

    def close(self) -> None:
        self._stop = True
        self.thread.join(timeout=5)
        self.sel.close()
        self.lsock.close()


# ------------------------------------------------------------ schedules


class OpenLoopWriter:
    """Writes files on a fixed schedule: file k holds the records due in
    tick k and is written at the end of that tick, whether or not the
    engine keeps up. Payloads are rendered before the schedule starts;
    `render(k)` only joins file k's lines, ahead of its due time.
    Lateness is measured per file."""

    def __init__(self, directory: str, dues: list[float], render) -> None:
        self.directory = directory
        self.dues = dues
        self.render = render
        self.late_ms_max = 0.0
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def _run(self) -> None:
        for k, due in enumerate(self.dues):
            data = self.render(k)
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            _publish_files(self.directory, [(f"ol-{k:06d}.json", data)])
            self.late_ms_max = max(self.late_ms_max, (time.time() - due) * 1e3)


def _schedule(rate: float, seconds: float) -> tuple[float, list[list[int]]]:
    """(t0, per-tick record offsets): record j is due at t0 + j / rate."""
    n = int(rate * seconds)
    ticks = int(np.ceil(seconds / TICK_S))
    per_tick: list[list[int]] = [[] for _ in range(ticks)]
    for j in range(n):
        per_tick[min(int(j / rate / TICK_S), ticks - 1)].append(j)
    return time.time() + LEAD_S, per_tick


class LoadGen:
    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.receiver = Receiver()
        self.writer: OpenLoopWriter | None = None
        self.schedule_info: dict = {}

    def sensor_files(self, directory: str, first: int, n: int, files: int) -> dict:
        values = sensor_values(self.seed, first, n)
        step = -(-n // files)
        rendered = []
        now = time.time()
        for k in range(files):
            lo, hi = k * step, min(n, (k + 1) * step)
            rendered.append(
                "".join(
                    sensor_line(sensor_key(first + j, now), values[j])
                    for j in range(lo, hi)
                )
            )
        t_first = _publish_files(
            directory, [(f"b{first:09d}-{k:04d}.json", data) for k, data in enumerate(rendered)]
        )
        return {"written": n, "created": now, "t_first": t_first, "t_avail": time.time()}

    def sensor_open_loop(self, directory: str, first: int, rate: float, seconds: float) -> dict:
        n = int(rate * seconds)
        values = sensor_values(self.seed, first, n)
        t0, per_tick = _schedule(rate, seconds)

        def render(k: int) -> str:
            return "".join(
                sensor_line(sensor_key(first + j, t0 + j / rate), values[j]) for j in per_tick[k]
            )

        return self._start(directory, t0, n, per_tick, render)

    def docs_open_loop(self, directory: str, first_id: int, rate: float, seconds: float) -> dict:
        n = int(rate * seconds)
        rows = [json.dumps(r) for r in doc_rows(self.seed, first_id, n)]
        t0, per_tick = _schedule(rate, seconds)
        return self._start(
            directory, t0, n, per_tick, lambda k: "".join(rows[j] + "\n" for j in per_tick[k])
        )

    def _start(self, directory, t0, n, per_tick, render) -> dict:
        self.schedule_info = {
            "t0": t0,
            "records": n,
            "files": len(per_tick),
            "per_file": [len(t) for t in per_tick],
        }
        dues = [t0 + (k + 1) * TICK_S for k in range(len(per_tick))]
        self.writer = OpenLoopWriter(directory, dues, render)
        return dict(self.schedule_info)

    def wait_open_loop(self) -> dict:
        if self.writer is None:
            raise ValueError("no open-loop schedule running")
        self.writer.thread.join()
        out = dict(self.schedule_info, late_ms_max=self.writer.late_ms_max)
        self.writer = None
        return out


def main() -> int:
    seed = int(sys.argv[1])
    gen = LoadGen(seed)
    out = sys.stdout
    out.write(json.dumps({"port": gen.receiver.port}) + "\n")
    out.flush()
    try:
        for line in sys.stdin:
            req = json.loads(line)
            cmd = req.pop("cmd")
            if "dir" in req:
                req["directory"] = req.pop("dir")
            if cmd == "quit":
                break
            try:
                if cmd == "receiver_stats":
                    reply = gen.receiver.stats()
                else:
                    reply = getattr(gen, cmd)(**req)
            except Exception as e:  # noqa: BLE001 - reported to the caller
                reply = {"error": f"{type(e).__name__}: {e}"}
            out.write(json.dumps(reply) + "\n")
            out.flush()
    finally:
        if gen.writer is not None:
            gen.writer.thread.join(timeout=60)
        gen.receiver.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
