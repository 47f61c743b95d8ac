"""Hybrid ingest + serving phase, run inside corpus_curation's traced run.

`HybridIngestMaintainer.bootstrap` builds the postings and IVF-SQ8
indexes over a seed-generated base of 2,000 (doc_id, text, embedding)
rows. The load generator process then writes new rows open-loop at
INGEST_RATE docs/s; a file stream feeds them to the maintainer's
`process_batch` (the `attach()` body, with the benchmark's timing wrapper
around it). Meanwhile one client thread calls `probe_hybrid(terms, vec)`
closed-loop and collects each result.

It reports per-layer numbers only: a probe costs seconds on a 4-core
machine, so a run of this benchmark holds too few probes and ingest
epochs for a steady end-to-end median (see perfbench/README.md).
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np

from common import WORK, log, median, source_log
from corpus import VOCAB, base_corpus

BASE_DOCS = 2_000
CENTROIDS = 8
INGEST_RATE = 40  # docs/s, open loop
FIRST_STREAM_ID = 1_000_000
PROBE_K = 10


def _base_rows(seed: int) -> list[tuple]:
    docs, embs = base_corpus(seed)
    return [
        (int(docs["doc_id"][i]), docs["text"][i], [float(x) for x in embs["embedding"][i]])
        for i in range(min(BASE_DOCS, len(embs["vec_id"])))
    ]


def _probe_inputs(seed: int, n: int) -> list[tuple[tuple[str, ...], list[float]]]:
    """Seed-drawn (terms, unit vector) pairs for the probe client."""
    rng = np.random.default_rng([seed, 4])
    out = []
    for _ in range(n):
        terms = tuple(sorted({VOCAB[t] for t in rng.integers(0, len(VOCAB), 3)}))
        v = rng.standard_normal(64)
        out.append((terms, (v / np.linalg.norm(v)).tolist()))
    return out


class Ingest:
    """The maintainer's foreachBatch under the benchmark's timing wrapper."""

    def __init__(self, spark, m, indir: str, ckpt: str, tracer):
        self.m = m
        self.ckpt = ckpt
        self.tracer = tracer
        self.applies: dict[int, tuple[float, float]] = {}
        stream = spark.readStream.schema(
            "doc_id long, text string, embedding array<float>"
        ).json(indir)
        self.query = (
            stream.writeStream.foreachBatch(self._on_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def _on_batch(self, batch_df, epoch_id: int) -> None:
        t0 = time.time()
        with self.tracer.span("streaming.hybrid.process_batch", epoch_id):
            self.m.process_batch(batch_df, epoch_id)
        self.applies[epoch_id] = (t0, time.time())

    def files_applied(self) -> dict[str, int]:
        """file name -> epoch, for every file of an applied batch."""
        return {
            os.path.basename(p): b
            for b, paths in source_log(self.ckpt).items()
            if b in self.applies
            for p in paths
        }


def serving_phase(spark, seed: int, seconds: float, tracer, gen) -> dict:
    from pyspark.sql import functions as F

    from kstreams_spark.operators.quantize import sq8_params
    from kstreams_spark.streaming.hybrid import HybridIngestMaintainer

    base = _base_rows(seed)
    probes_in = _probe_inputs(seed, 1024)
    root = os.path.join(WORK, "hybrid")
    shutil.rmtree(root, ignore_errors=True)
    docs = spark.createDataFrame(base, "doc_id long, text string, embedding array<float>")
    emb = docs.select(F.col("doc_id").alias("vec_id"), "embedding")
    m = HybridIngestMaintainer(os.path.join(root, "idx"))
    with tracer.span("streaming.hybrid.bootstrap"):
        m.bootstrap(docs, [r[2] for r in base[:CENTROIDS]], params=sq8_params(emb))
    indir = os.path.join(root, "in")
    os.makedirs(indir)
    ingest = Ingest(spark, m, indir, os.path.join(root, "ckpt"), tracer)
    m.probe_hybrid(spark, probes_in[0][0], probes_in[0][1], k=PROBE_K).collect()  # warm

    sched = gen.call(
        "docs_open_loop", dir=indir, first_id=FIRST_STREAM_ID, rate=INGEST_RATE, seconds=seconds
    )
    probes: list[dict] = []
    stop = threading.Event()
    probe_err: list[BaseException] = []

    def client() -> None:
        sc = spark.sparkContext
        try:
            k = 1
            while not stop.is_set():
                terms, vec = probes_in[k % len(probes_in)]
                sc.setJobGroup(f"bench-probe-{k}", "probe", False)
                with tracer.span("serving.probe_hybrid", k):
                    t0 = time.time()
                    df = m.probe_hybrid(spark, terms, vec, k=PROBE_K)
                    t1 = time.time()
                    rows = df.collect()
                    t2 = time.time()
                with tracer.span("streaming.hybrid.visible_epoch", k):
                    ve = m.visible_epoch()
                probes.append(
                    {
                        "plan": t1 - t0,
                        "exec": t2 - t1,
                        "ve_ms": (time.time() - t2) * 1e3,
                        "visible_after": ve,
                        "docs": [r.doc_id for r in rows],
                        "jobs": len(sc.statusTracker().getJobIdsForGroup(f"bench-probe-{k}")),
                    }
                )
                k += 1
        except Exception as e:  # noqa: BLE001 - re-raised by the caller's thread
            probe_err.append(e)

    th = threading.Thread(target=client, daemon=True)
    th.start()
    while time.time() < sched["t0"] + seconds:
        time.sleep(0.2)
    stop.set()
    th.join(timeout=120)
    if th.is_alive():
        raise TimeoutError("probe client did not stop")
    if probe_err:
        raise probe_err[0]
    done = gen.call("wait_open_loop")
    n_docs = done["records"]
    deadline = time.time() + 120
    while len(ingest.files_applied()) < sched["files"]:
        if ingest.query.exception() is not None:
            raise RuntimeError(f"ingest failed: {ingest.query.exception()}")
        if time.time() > deadline:
            raise TimeoutError("ingest did not catch up")
        time.sleep(0.05)
    ingest.query.stop()
    log(f"serving phase: {len(probes)} probes, {n_docs} docs in {len(ingest.applies)} epochs")

    # ----- correctness, from the index's own manifests
    failures = []
    vecs = {r.vec_id: r.epoch for r in spark.read.parquet(m.sq8_dir + "/_vecs").collect()}
    pdocs = {r.doc_id: r.epoch for r in spark.read.parquet(m.postings_dir + "_docs").collect()}
    final_ve = m.visible_epoch()
    streamed = range(FIRST_STREAM_ID, FIRST_STREAM_ID + n_docs)
    missing = [d for d in streamed if d not in vecs or d not in pdocs]
    if missing:
        failures.append(f"{len(missing)} ingested docs missing from the index, e.g. {missing[:3]}")
    if any(max(vecs.get(d, 0), pdocs.get(d, 0)) > final_ve for d in streamed):
        failures.append("ingested docs above the final visible epoch")
    bad = sum(
        1
        for p in probes
        if not p["docs"] or any(vecs.get(d, 0) > p["visible_after"] for d in p["docs"])
    )
    if bad:
        failures.append(f"{bad} probes returned no rows or a doc above the visible epoch")

    # ----- freshness: marker commit time minus the doc's creation time
    marker_t = {
        int(n.split("=", 1)[1]): os.stat(os.path.join(m.marker_root, n)).st_mtime
        for n in os.listdir(m.marker_root)
        if n.startswith("epoch=")
    }
    fresh = [
        (marker_t[vecs[d] - 1] - (sched["t0"] + (d - FIRST_STREAM_ID) / INGEST_RATE)) * 1e3
        for d in streamed
        if d in vecs
    ]

    # ----- ingest backlog (written minus applied), 1 Hz over the window
    per_file = dict(zip((f"ol-{k:06d}.json" for k in range(sched["files"])), sched["per_file"]))
    applied_at = {f: ingest.applies[b][1] for f, b in ingest.files_applied().items()}
    backlog = []
    for t in np.arange(sched["t0"], sched["t0"] + seconds, 1.0):
        written = min(n_docs, int((t - sched["t0"]) * INGEST_RATE))
        applied = sum(per_file.get(f, 0) for f, ta in applied_at.items() if ta <= t)
        backlog.append(written - applied)

    files, size = 0, 0
    for dp, _, fs in os.walk(root):
        if os.path.relpath(dp, root).split(os.sep)[0] in ("in", "ckpt", "_staging"):
            continue
        files += len(fs)
        size += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
    lat = [(p["plan"] + p["exec"]) * 1e3 for p in probes]
    layer = {
        "serving.probe_p50_ms": median(lat) if lat else 0.0,
        "serving.probe_plan_ms": median([p["plan"] * 1e3 for p in probes]) if probes else 0.0,
        "serving.probe_exec_ms": median([p["exec"] * 1e3 for p in probes]) if probes else 0.0,
        "serving.jobs_per_probe": median([float(p["jobs"]) for p in probes]) if probes else 0.0,
        "hybrid.visible_epoch_ms": median([p["ve_ms"] for p in probes]) if probes else 0.0,
        "hybrid.freshness_p50_ms": median(fresh) if fresh else 0.0,
        "hybrid.apply_ms": median([(b - a) * 1e3 for a, b in ingest.applies.values()]),
        "hybrid.epochs_committed": float(len(marker_t)),
        "hybrid.ingest_backlog_docs_max": float(max(backlog)) if backlog else 0.0,
        "hybrid.index_files_end": float(files),
        "hybrid.index_bytes_end": float(size),
        "loadgen.late_ms_max": done["late_ms_max"],
    }
    if done["late_ms_max"] > 250:
        failures.append(f"generator ran {done['late_ms_max']:.0f} ms late")
    return {
        "attempted": len(probes) + n_docs,
        "failed": bad + len(missing),
        "failures": failures,
        "layer": layer,
        "detail": {"probes": len(probes), "docs_ingested": n_docs, "epochs": len(ingest.applies)},
    }
