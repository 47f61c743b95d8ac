"""corpus_curation: the batch LLM-data chain over a seed-generated corpus.

Five registered queries run back to back over a seed-generated corpus
(see corpus.py) in a fresh process, as a batch curation job does: the
first chain pays the engine's first-run costs (code generation, Python
worker start) and is timed with them. Each query's result is collected
once; that execution is the timed one and its rows are the checked ones:
the sorted-row md5 digest of every result must equal the digest of the
query's DuckDB oracle (registry.ORACLES) over the same corpus, recorded
in digests.json by record_digests.py; the oracles take minutes, too long
to run inside a benchmark run. Where a DOUBLE-to-DECIMAL cast meets a
rounding tie, digests.json also holds the oracle's digest under the other
rounding ISO SQL allows ("tie_digest", see record_digests.py), and either
digest passes. A query whose rows differ counts as failed, once per chain.

A seed selects one of N_CORPORA corpora (seed % N_CORPORA), so every seed
has a recorded digest.

The traced run also runs the hybrid ingest + serving phase (hybrid.py).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time
from datetime import date, datetime
from decimal import Decimal

from common import WORK, LoadGenClient, RssSampler, log, median, stop_spark
from corpus import write_scaled
from hybrid import serving_phase
from metrics import CURATION_QUERIES

SCALE = 1  # replicas of the 5,000-doc base corpus
N_CORPORA = 8
SERVING_SECONDS = 15
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
SETUP_REPS = 3
# every curation gate must keep documents: the least rows each result
# must have on the full corpus (an emptied pipeline cannot pass as fast)
MIN_ROWS = {
    "composite_curation_neardup": 5,
    "composite_semantic_dedup": 5,
    "composite_curation_classified": 5,
    "dedup_substring_rewrite": 1000,
    "composite_curation_perplexity": 3,
}


def _canon(v):
    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (list, tuple, str, bytes)):
        try:
            v = v.item()
        except (AttributeError, ValueError):
            pass
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else ("f", v)
    if isinstance(v, Decimal):
        return ("f", float(v))
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def digest(pdf) -> tuple[str, int]:
    """(md5 of the sorted canonical rows, row count); columns by name."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(_canon(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.md5()
    h.update(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def corpus_dir(seed: int) -> str:
    cid = seed % N_CORPORA
    return write_scaled(os.path.join(WORK, "corpus", f"c{cid}-x{SCALE}"), cid, SCALE)


def recorded_digests() -> dict:
    with open(DIGESTS) as fh:
        return json.load(fh)


def run(spark_factory, seed: int, seconds: int, tracer, t_start: float) -> dict:
    from kstreams_spark import registry

    registry.load_all()
    trace = tracer.enabled
    t_gen = time.time()
    full = corpus_dir(seed)
    want = recorded_digests()["corpora"][str(seed % N_CORPORA)]
    gen_s = time.time() - t_gen
    rss = RssSampler(exclude=set())
    spark = None
    try:
        with tracer.span("setup.session"):
            spark = spark_factory()
        session_s = time.time() - t_start - gen_s
        from kstreams_spark.io import load_table

        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.time()
            with tracer.span("setup.load_corpus"):
                n_docs = load_table(spark, full, "documents").count()
                load_table(spark, full, "embeddings").count()
            reps.append(time.time() - t0)
        setup_s = session_s + median(reps)
        log(f"set-up {setup_s:.2f} s (session {session_s:.2f} s, corpus {n_docs} docs)")

        sc = spark.sparkContext
        walls: dict[str, list[float]] = {q: [] for q in CURATION_QUERIES}
        results: dict[str, tuple[str, int]] = {}
        chains: list[float] = []
        jobs: dict[str, tuple[int, int]] = {}
        t_end = time.time() + seconds
        while not chains or time.time() < t_end:
            c0 = time.time()
            for q in CURATION_QUERIES:
                group = f"bench-{q}-{len(chains)}"
                if trace:
                    sc.setJobGroup(group, q, False)
                t0 = time.time()
                with tracer.span(f"operators.{q}", len(chains)):
                    pdf = registry.QUERIES[q](spark, full).toPandas()
                walls[q].append(time.time() - t0)
                if trace:
                    jobs[q] = _job_stats(sc, group)
                    sc.setJobGroup("", "", False)
                d = digest(pdf)
                if results.setdefault(q, d) != d:
                    results[q] = ("nondeterministic", -1)
            chains.append(time.time() - c0)
            log(f"chain {len(chains)}: {chains[-1]:.2f} s")
        peak_rss_mb = rss.stop()

        failures = []
        failed_queries = 0
        for q in CURATION_QUERIES:
            got_d, got_n = results[q]
            bad = []
            ok = {want[q]["digest"], want[q].get("tie_digest")}
            if got_d not in ok or got_n != want[q]["rows"]:
                bad.append(f"{q}: digest {got_d} ({got_n} rows) != oracle {want[q]}")
            if got_n < MIN_ROWS[q]:
                bad.append(f"{q}: {got_n} rows, a gate emptied the corpus")
            failures += bad
            failed_queries += bool(bad)
        attempted = len(chains) * len(CURATION_QUERIES)
        failed = len(chains) * failed_queries
        per_query = [median(w) for w in walls.values()]
        metrics = {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MiB"),
            "throughput_per_s": (n_docs * len(CURATION_QUERIES) / median(chains), "1/s"),
            # the mean query: the median of five per-query times switches
            # between queries whose times are close and did not repeat
            "latency_p50_ms": (median(chains) / len(CURATION_QUERIES) * 1e3, "ms"),
            "latency_tail_ms": (max(per_query) * 1e3, "ms"),
            "freshness_p50_ms": (median(chains) * 1e3, "ms"),
        }
        layer = {}
        detail = {}
        if trace:
            for q in CURATION_QUERIES:
                layer[f"operators.{q}.wall_s"] = median(walls[q])
                layer[f"operators.{q}.jobs"] = float(jobs[q][0])
                layer[f"operators.{q}.tasks"] = float(jobs[q][1])
            gen = LoadGenClient(seed)
            try:
                serving = serving_phase(spark, seed, SERVING_SECONDS, tracer, gen)
            finally:
                gen.close()
            layer.update(serving["layer"])
            failures += serving["failures"]
            attempted += serving["attempted"]
            failed += serving["attempted"] if serving["failures"] else 0
            detail["serving"] = serving["detail"]
        return {
            "attempted": attempted,
            "failed": failed,
            "failures": failures,
            "metrics": metrics,
            "layer": layer,
            "detail": {
                "corpus_docs": n_docs,
                "scale": SCALE,
                "chains_s": chains,
                "query_walls_s": walls,
                "rows": {q: results[q][1] for q in CURATION_QUERIES},
                "session_s": session_s,
                "setup_reps_s": reps,
                **detail,
            },
        }
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)


def _job_stats(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) the job group ran, from the status tracker."""
    st = sc.statusTracker()
    ids = st.getJobIdsForGroup(group)
    tasks = 0
    for j in ids:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = st.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    return len(ids), tasks
