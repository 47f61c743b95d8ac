"""sensor_alert_stream: the paper's own pipeline under a fixed input rate.

A load generator in its own process appends JSON-lines (key, value) files;
`sensor_stream_from_files` feeds `ReferenceTopology`, whose alerts go to
`MqttAlertSink` (the mqtt_wire client when paho is absent) aimed at the
generator process's MQTT receiver, and whose forward sink appends one
parquet directory per epoch (the stand-in for `.to("bme680out")`).

Phase A drains a pre-written backlog (per-record cost). Phase B writes on
a fixed schedule at PHASE_B_RATE records/s (per-micro-batch overhead).
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import time
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import WORK, LoadGenClient, RssSampler, log, median, percentile, source_log, stop_spark, tail_supported
from loadgen import sensor_key, sensor_values

WARMUP_RECORDS = 2_000
SETUP_REPS = 3
BACKLOG_RECORDS = 100_000  # per drain; phase A drains DRAINS backlogs in turn
BACKLOG_FILES = 8
# timed drains: one drain takes about 1.3 s and single drains of a run
# differed by up to 25 %, so the metric is the median of several
DRAINS = 5
WARMUP_DRAINS = 3  # untimed: drain rates still rise over the first drains
# phase B's first seconds are excluded: the JIT is still warming and batch
# times fall for about that long after the set-up
RAMP_S = 4
# Fixed open-loop rate, never adapted per run; perfbench/README.md says
# why it sits below half the phase-A drain rate
PHASE_B_RATE = 12_000
# p90, not p99: a window holds about 20 batches, so the record p99 is set
# by the slowest one or two batches and did not repeat across runs
TAIL_P = 90.0
TEMPERATURE_LIMIT = 75.0


def expected_alerts(values) -> dict[str, int]:
    """Python replay of the reference rule (BME680.java:136-178): JSON
    values read $.bme680_tempf, bare values are trimmed, a reading that is
    not a number yields nothing, a reading above 75 °F yields
    'Temperature warning %04.2f'."""
    out: dict[str, int] = {}
    for v in values:
        if v is None:
            continue
        if "{" in v:
            try:
                raw = json.loads(v).get("bme680_tempf")
            except (ValueError, AttributeError):
                continue
            if raw is None:
                continue
            raw = str(raw)
        else:
            raw = v.strip()
        try:
            t = float(raw)
        except ValueError:
            continue
        if t > TEMPERATURE_LIMIT:
            a = "Temperature warning %04.2f" % t
            out[a] = out.get(a, 0) + 1
    return out


class StreamRun:
    """One streaming query over one input directory, with the benchmark's
    foreachBatch wrapper around ReferenceTopology.process_batch."""

    def __init__(self, spark, root: str, broker_url: str, tracer, trace_jobs: bool):
        from kstreams_spark.sinks.mqtt import MqttAlertSink
        from kstreams_spark.sources.streams import sensor_stream_from_files
        from kstreams_spark.streaming.topology import ReferenceTopology

        shutil.rmtree(root, ignore_errors=True)
        self.spark = spark
        self.root = root
        self.indir = os.path.join(root, "in")
        self.fwd = os.path.join(root, "fwd")
        os.makedirs(self.indir)
        self.tracer = tracer
        self.trace_jobs = trace_jobs
        self.commits: dict[int, tuple[float, float, float]] = {}  # epoch -> (start, fwd_start, end)
        self.jobs: dict[int, int] = {}
        self._epoch = -1
        self._fwd_t0 = 0.0
        self.topology = ReferenceTopology(
            forward_sink=self._forward,
            alert_sink_factory=partial(MqttAlertSink, broker_url),
        )
        source = sensor_stream_from_files(spark, self.indir)
        with tracer.span("sources.start"):
            self.query = (
                source.writeStream.foreachBatch(self._on_batch)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .start()
            )
        self.progress: dict[int, dict] = {}

    def _forward(self, df) -> None:
        self._fwd_t0 = time.time()
        with self.tracer.span("topology.forward", self._epoch):
            df.write.mode("overwrite").parquet(
                os.path.join(self.fwd, f"epoch={self._epoch}")
            )

    def _on_batch(self, batch_df, epoch_id: int) -> None:
        sc = self.spark.sparkContext
        if self.trace_jobs:
            sc.setJobGroup(f"bench-epoch-{epoch_id}", "bench", False)
        t0 = time.time()
        self._epoch = epoch_id
        with self.tracer.span("streaming.topology.process_batch", epoch_id):
            self.topology.process_batch(batch_df, epoch_id)
        self.commits[epoch_id] = (t0, self._fwd_t0, time.time())
        if self.trace_jobs:
            self.jobs[epoch_id] = len(sc.statusTracker().getJobIdsForGroup(f"bench-epoch-{epoch_id}"))
            sc.setJobGroup("", "", False)

    def poll_progress(self) -> None:
        for p in self.query.recentProgress:
            self.progress[p["batchId"]] = p

    def rows_committed(self) -> int:
        self.poll_progress()
        return sum(
            p["numInputRows"] for b, p in self.progress.items() if b in self.commits
        )

    def wait_rows(self, n: int, timeout: float) -> None:
        deadline = time.time() + timeout
        while self.rows_committed() < n:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"stream committed {self.rows_committed()} of {n} rows")
            time.sleep(0.02)

    def stop(self) -> None:
        self.query.stop()
        self.poll_progress()

    def files_per_batch(self) -> dict[int, int]:
        return {b: len(f) for b, f in source_log(os.path.join(self.root, "ckpt")).items()}

def _gen_call(tracer, gen, cmd, **kw):
    with tracer.span(f"loadgen.{cmd}"):
        return gen.call(cmd, **kw)


def run(spark_factory, seed: int, seconds: int, tracer, t_start: float) -> dict:
    trace = tracer.enabled
    gen = LoadGenClient(seed)
    spark = None
    rss = RssSampler(exclude={gen.proc.pid})
    try:
        with tracer.span("setup.session"):
            spark = spark_factory()
        session_s = time.time() - t_start
        next_index = 0
        # (first, n, created, rate) of the records the live query forwards;
        # `published` also covers the set-up repetitions' records, whose
        # alerts reach the same receiver
        generated: list[tuple[int, int, float | None, float]] = []
        published: list[tuple[int, int]] = []

        # set-up, repeated: start the topology on fresh directories and
        # commit one warm-up batch; the last repetition keeps running
        reps = []
        stream = None
        for r in range(SETUP_REPS):
            if stream is not None:
                stream.stop()
            t0 = time.time()
            stream = StreamRun(spark, os.path.join(WORK, "sensor", f"rep{r}"), gen.url, tracer, trace)
            w = _gen_call(tracer, gen, "sensor_files", dir=stream.indir, first=next_index, n=WARMUP_RECORDS, files=1)
            published.append((next_index, WARMUP_RECORDS))
            if r == SETUP_REPS - 1:
                generated.append((next_index, WARMUP_RECORDS, w["created"], 0.0))
            next_index += WARMUP_RECORDS
            stream.wait_rows(WARMUP_RECORDS, 120)
            reps.append(time.time() - t0)
        setup_s = session_s + median(reps)
        log(f"set-up {setup_s:.2f} s (session {session_s:.2f} s, repetitions {reps})")
        live = stream
        base_rows = WARMUP_RECORDS

        # phase A: drain backlogs, one at a time, after warm-up drains
        rates = []
        for _ in range(WARMUP_DRAINS + DRAINS):
            a = _gen_call(tracer, gen, "sensor_files", dir=live.indir, first=next_index, n=BACKLOG_RECORDS, files=BACKLOG_FILES)
            generated.append((next_index, BACKLOG_RECORDS, a["created"], 0.0))
            published.append((next_index, BACKLOG_RECORDS))
            next_index += BACKLOG_RECORDS
            base_rows += BACKLOG_RECORDS
            live.wait_rows(base_rows, 150)
            a_end = max(c[2] for c in live.commits.values())
            rates.append(BACKLOG_RECORDS / (a_end - a["t_first"]))
        rates = rates[WARMUP_DRAINS:]
        drain_rps = median(rates)
        log(f"phase A drained {DRAINS} x {BACKLOG_RECORDS} records at {[round(r) for r in rates]}/s")

        # phase B: open loop at a fixed rate
        b = _gen_call(tracer, gen, "sensor_open_loop", dir=live.indir, first=next_index, rate=PHASE_B_RATE, seconds=RAMP_S + seconds)
        b_first = next_index
        generated.append((next_index, b["records"], None, float(PHASE_B_RATE)))
        published.append((next_index, b["records"]))
        next_index += b["records"]
        samples = []
        while True:
            time.sleep(1.0)
            with tracer.span("sources.backlog_sample"):
                samples.append((time.time(), live.rows_committed() - base_rows))
            if time.time() > b["t0"] + RAMP_S + seconds + 0.3:
                break
        done = _gen_call(tracer, gen, "wait_open_loop")
        live.wait_rows(base_rows + b["records"], 120)
        live.stop()
        log(f"phase B done, generator late by at most {done['late_ms_max']:.0f} ms")

        # read before the traced run's extra jobs, so traced.peak_rss_mb
        # covers the same work as peak_rss_mb
        peak_rss_mb = rss.stop()
        extra = {}
        if trace:
            extra = _traced_extras(spark, tracer, gen, live, next_index)
            published.append((next_index, BACKLOG_RECORDS))

        # the receiver counts a run only once every connection has closed
        deadline = time.time() + 30
        while True:
            rstats = gen.call("receiver_stats")
            if rstats["open"] == 0 or time.time() > deadline:
                break
            time.sleep(0.05)

        # ----- correctness
        failures = []
        vals = {(first, n): sensor_values(seed, first, n) for first, n in published}
        exp_keys, exp_vals = [], []
        for first, n, created, rate in generated:
            if rate:
                exp_keys += [sensor_key(first + j, b["t0"] + j / rate) for j in range(n)]
            else:
                exp_keys += [sensor_key(first + j, created) for j in range(n)]
            exp_vals += vals[(first, n)]
        fwd = pq.read_table(live.fwd)  # key, value and the epoch partition
        # keys are unique, so the multisets are equal iff the forwarded
        # rows, ordered by key, equal the generated rows ordered the same way
        got_order = pc.sort_indices(fwd.column("key"))
        want = pa.table({"key": exp_keys, "value": pa.array(exp_vals, pa.string())})
        want_order = pc.sort_indices(want.column("key"))
        if not (
            fwd.column("key").take(got_order).equals(want.column("key").take(want_order))
            and fwd.column("value").take(got_order).equals(want.column("value").take(want_order))
        ):
            failures.append(f"forwarded multiset differs: {fwd.num_rows} rows vs {want.num_rows} generated")
        alerts_want = expected_alerts(v for rng in vals.values() for v in rng)
        if rstats["alerts"] != alerts_want:
            failures.append(
                f"alert multiset differs: {sum(rstats['alerts'].values())} received vs "
                f"{sum(alerts_want.values())} expected"
            )
        if rstats["open"] or rstats["errors"]:
            failures.append(f"receiver: {rstats['open']} open connections, {rstats['errors']} errors")

        # ----- phase-B latency: forward commit of the record's epoch
        # minus the creation (due) time carried in its key
        parts = pc.split_pattern(fwd.column("key"), "@")
        idx = pc.cast(pc.utf8_slice_codeunits(pc.list_element(parts, 0), 1), pa.int64()).to_numpy()
        created_all = pc.cast(pc.list_element(parts, 1), pa.int64()).to_numpy() / 1e6
        epoch_all = pc.cast(fwd.column("epoch"), pa.int64()).to_numpy()
        in_window = idx >= b_first + RAMP_S * PHASE_B_RATE
        created, epochs = created_all[in_window], epoch_all[in_window]
        commit_end = {e: c[2] for e, c in live.commits.items()}
        lat_ms = (np.array([commit_end[e] for e in epochs]) - created) * 1e3
        b_epochs = sorted(set(epochs.tolist()))
        batch_fresh = [
            (commit_end[e] - created[epochs == e].max()) * 1e3 for e in b_epochs
        ]
        n_lat = len(lat_ms)
        if not tail_supported(n_lat, TAIL_P):
            failures.append(f"only {n_lat} phase-B latency samples")

        # ----- backlog: written minus forwarded, sampled at 1 Hz
        bl = [(t - b["t0"], min(b["records"], max(0, int((t - b["t0"]) * PHASE_B_RATE))) - f) for t, f in samples]
        window = [(t, v) for t, v in bl if RAMP_S <= t <= RAMP_S + seconds]
        growth = 0.0
        if len(window) >= 3:
            ts = np.array([t for t, _ in window])
            vs = np.array([v for _, v in window], dtype=float)
            growth = float(np.polyfit(ts, vs, 1)[0]) * (ts[-1] - ts[0])
        if growth > PHASE_B_RATE * 1.0:
            failures.append(f"phase-B backlog grew by {growth:.0f} records over the window")
        if done["late_ms_max"] > 250:
            failures.append(f"generator ran {done['late_ms_max']:.0f} ms late")
        if rstats["busy_fraction"] > 0.8:
            failures.append(f"receiver busy {rstats['busy_fraction']:.2f} of the run")

        lat_list = lat_ms.tolist()
        log(f"checked {want.num_rows} records and {sum(alerts_want.values())} alerts")
        metrics = {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MiB"),
            "throughput_per_s": (drain_rps, "1/s"),
            "latency_p50_ms": (percentile(lat_list, 50), "ms"),
            "latency_tail_ms": (percentile(lat_list, TAIL_P), "ms"),
            "freshness_p50_ms": (median(batch_fresh), "ms"),
        }
        detail = {
            # the client that served the alerts: the receiver sees its
            # CONNECT client id ("kstreams_spark" is mqtt_wire's default)
            "mqtt_client_ids": rstats["client_ids"],
            "paho_installed": importlib.util.find_spec("paho") is not None,
            "drain_records_per_s": rates,
            "phase_b_rate": PHASE_B_RATE,
            "latency_samples_records": n_lat,
            "latency_samples_batches": len(b_epochs),
            "tail_percentile": TAIL_P,
            "latency_p99_ms": percentile(lat_list, 99),
            "backlog_growth_records": growth,
            "setup_reps_s": reps,
            "batches": [
                [e, live.progress.get(e, {}).get("numInputRows"), round(c[0], 3), round(c[1] - c[0], 3), round(c[2] - c[0], 3)]
                for e, c in sorted(live.commits.items())
            ],
            "session_s": session_s,
        }
        layer = {}
        if trace:
            layer = _layer_metrics(live, rstats, done, bl, b_epochs[0], extra)
        attempted = want.num_rows
        return {
            "attempted": attempted,
            "failed": attempted if failures else 0,
            "failures": failures,
            "metrics": metrics,
            "layer": layer,
            "detail": detail,
        }
    finally:
        rss.stop()
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
        gen.close()
        if spark is not None:
            stop_spark(spark)


def _traced_extras(spark, tracer, gen, live: StreamRun, next_index: int) -> dict:
    """Traced run only: the batch rule over the backlog, and phase A again
    on one task per stage (the single-threaded reference)."""
    from pyspark.sql import functions as F

    from kstreams_spark.functions.sensor import temperature_alerts

    files = sorted(
        os.path.join(live.indir, f) for f in os.listdir(live.indir) if f.startswith("b")
    )
    frame = spark.read.schema("key string, value string").json(files)
    n = frame.count()
    t0 = time.time()
    with tracer.span("functions.sensor.temperature_alerts"):
        temperature_alerts(frame.filter(F.col("value").isNotNull())).write.format("noop").mode("overwrite").save()
    alerts_rps = n / (time.time() - t0)

    # one input partition, so every stage of the batch runs as one task;
    # the session ends after this, so the settings are not restored
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 30))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    one = StreamRun(spark, os.path.join(WORK, "sensor", "one_core"), gen.url, tracer, False)
    a = gen.call("sensor_files", dir=one.indir, first=next_index, n=BACKLOG_RECORDS, files=BACKLOG_FILES)
    one.wait_rows(BACKLOG_RECORDS, 150)
    rps_1core = BACKLOG_RECORDS / (max(c[2] for c in one.commits.values()) - a["t_first"])
    one.stop()
    return {"alerts_rps": alerts_rps, "drain_rps_1core": rps_1core}


def _layer_metrics(live, rstats, done, bl, phase_b_epoch, extra) -> dict:
    """Per-layer numbers over the phase-B batches (medians per batch)."""
    prog = [p for b, p in sorted(live.progress.items()) if b >= phase_b_epoch and p["numInputRows"] > 0]
    epochs = sorted(p["batchId"] for p in prog)
    dur = lambda k: [p["durationMs"].get(k, 0) for p in prog]  # noqa: E731
    proc = [(live.commits[e][2] - live.commits[e][0]) * 1e3 for e in epochs]
    fwd = [(live.commits[e][2] - live.commits[e][1]) * 1e3 for e in epochs]
    # CONNECT->DISCONNECT time of the connections each batch opened, summed
    active = [
        sum(
            (c[1] - c[0]) * 1e3
            for c in rstats["conns"]
            if c[1] is not None and live.commits[e][0] <= c[0] <= live.commits[e][2]
        )
        for e in epochs
    ]
    files = live.files_per_batch()
    return {
        "source.latest_offset_ms": median(dur("latestOffset")),
        "source.get_batch_ms": median(dur("getBatch")),
        "source.files_per_batch": median([float(files.get(e, 0)) for e in epochs]),
        "source.backlog_records_max": float(max(v for _, v in bl)),
        "engine.trigger_ms": median(dur("triggerExecution")),
        "engine.planning_ms": median(dur("queryPlanning")),
        "engine.commit_ms": median([w + c for w, c in zip(dur("walCommit"), dur("commitOffsets"))]),
        "engine.batches": float(len(prog)),
        "engine.records_per_batch": median([float(p["numInputRows"]) for p in prog]),
        "engine.drain_rps_1core": extra["drain_rps_1core"],
        "topology.process_batch_ms": median(proc),
        "topology.forward_ms": median(fwd),
        "topology.alert_ms": median([p - f for p, f in zip(proc, fwd)]),
        "topology.jobs_per_batch": median([float(live.jobs.get(e, 0)) for e in epochs]),
        "functions.sensor.alerts_rps": extra["alerts_rps"],
        "sinks.mqtt.publishes": float(rstats["publishes"]),
        "sinks.mqtt.connections": float(rstats["connections"]),
        "sinks.mqtt.conn_active_ms": median(active),
        "sinks.mqtt.bytes": float(rstats["bytes"]),
        "loadgen.late_ms_max": done["late_ms_max"],
        "loadgen.receiver_busy_fraction": rstats["busy_fraction"],
    }
