"""Shared pieces of the benchmark: percentiles, the span tracer, the
process-tree RSS sampler, the Spark session it builds and the load
generator client."""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(REPO, ".bench_work")
CORES = min(4, os.cpu_count() or 1)  # fixed, so a larger machine runs the same setup

def log(msg: str) -> None:
    """Progress line on standard error (standard output carries the result)."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ statistics


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("median of an empty sample")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_supported(n: int, p: float) -> bool:
    """A tail percentile is reported only when at least ten samples lie
    beyond it."""
    return n * (100 - p) >= 1000


# ------------------------------------------------------------ tracing


class Tracer:
    """Spans (name, start, end, parent, id) recorded around the calls the
    benchmark makes into each layer. Kept in memory, written at the end.
    A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None, object]] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, ident: object = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, time.time(), math.nan, parent, ident))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                n, t0, _, par, i = self.spans[idx]
                self.spans[idx] = (n, t0, time.time(), par, i)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self time (ms). Self time is a
        span's duration minus the union of its children's intervals."""
        children: dict[int, list[int]] = {}
        for k, s in enumerate(self.spans):
            if s[3] is not None:
                children.setdefault(s[3], []).append(k)
        out: dict[str, dict] = {}
        for k, (name, t0, t1, _, _) in enumerate(self.spans):
            covered, end = 0.0, t0
            for c in sorted(children.get(k, []), key=lambda c: self.spans[c][1]):
                c0, c1 = max(self.spans[c][1], end), min(self.spans[c][2], t1)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            agg = out.setdefault(name, {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            agg["count"] += 1
            agg["total_ms"] += (t1 - t0) * 1e3
            agg["self_ms"] += (t1 - t0 - covered) * 1e3
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "id"],
                    "spans": self.spans,
                    "self_times": self.self_times(),
                },
                fh,
            )


# ------------------------------------------------------------ memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    driver JVM and its Python workers) every `interval` seconds, leaving
    out the subtrees of `exclude` pids (the load generator).

    The peak is that of the median of each three consecutive samples, so
    a value seen in one sample only does not count: a child the JVM
    spawns shares the JVM's memory until it execs, and a sample taken in
    that window counts the JVM twice (such single samples read about
    1.3 GiB, the JVM's own RSS, above their neighbours, in one or two
    sensor runs of ten)."""

    def __init__(self, exclude: set[int], interval: float = 0.2) -> None:
        self.exclude = exclude
        self.interval = interval
        self.peak = 0
        self._last: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> int:
        kids = _children_map()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _rss_bytes(pid)
            todo.extend(kids.get(pid, []))
        self._last = (self._last + [total])[-3:]
        self.peak = max(self.peak, sorted(self._last)[len(self._last) // 2])
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; peak RSS in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak / (1 << 20)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_fraction(start: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since `start`:
    a run with a high share was slowed by its neighbours, not the program."""
    steal, total = cpu_ticks()
    return (steal - start[0]) / max(1, total - start[1])


# ------------------------------------------------------------ Spark


def source_log(checkpoint: str) -> dict[int, list[str]]:
    """Files each batch of a file-stream query read, from the file
    source's own log in its checkpoint (one JSON line per file; every
    tenth batch file is a compaction of the earlier ones)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[int, set[str]] = {}
    if not os.path.isdir(log_dir):
        return {}
    for name in os.listdir(log_dir):  # "<n>" and compacted "<n>.compact"
        if name.split(".")[0].isdigit():
            with open(os.path.join(log_dir, name)) as fh:
                for line in fh:
                    if line.startswith("{"):
                        rec = json.loads(line)
                        out.setdefault(rec["batchId"], set()).add(rec["path"])
    return {b: sorted(paths) for b, paths in out.items()}



def start_spark(app: str, cores: int = CORES):
    """Local session with every scratch path inside the checkout and the
    repository on the executors' PYTHONPATH (foreachBatch/foreachPartition
    bodies import kstreams_spark inside Python workers)."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the gateway's connection file; the value is cached
    # every JVM, the spark-submit launcher too: no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    from kstreams_spark.session import get_session

    spark = get_session(
        app_name=app,
        cores=cores,
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.sql.streaming.stopTimeout": "60s",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------ load generator


class LoadGenClient:
    """Starts perfbench/loadgen.py as a child process and talks to it over
    JSON lines."""

    def __init__(self, seed: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "loadgen.py"), str(seed)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        hello = json.loads(self.proc.stdout.readline())
        self.port = hello["port"]
        self.url = f"tcp://127.0.0.1:{self.port}"

    def call(self, cmd: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"load generator exited during {cmd}")
        reply = json.loads(line)
        if "error" in reply:
            raise RuntimeError(f"load generator {cmd}: {reply['error']}")
        return reply

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write(json.dumps({"cmd": "quit"}) + "\n")
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()
