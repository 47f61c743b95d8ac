"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, drives kstreams_spark only
through its public functions, checks every output and prints, as the last
line of standard output, one JSON object with the keys correct, attempted,
failed and metrics. --trace 0 reports the end-to-end metrics; --trace 1
records spans around each call into a layer and reports the per-layer
metrics. Details and spans go to .bench_work/results/.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import REPO, WORK, Tracer, cpu_ticks, start_spark, steal_fraction  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("sensor_alert_stream", "corpus_curation")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, "kstreams_spark")):
        print("kstreams_spark is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    import kstreams_spark  # noqa: F401  # fail before any work if broken

    if args.workload == "sensor_alert_stream":
        import sensor as workload
    else:
        import curation as workload

    tracer = Tracer(enabled=bool(args.trace))
    ticks = cpu_ticks()
    res = workload.run(
        lambda: start_spark(f"perfbench-{args.workload}"),
        args.seed,
        args.seconds,
        tracer,
        T_START,
    )
    res["detail"]["host_steal_fraction"] = steal_fraction(ticks)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    if args.trace:
        tracer.write(os.path.join(out_dir, f"{tag}.spans.json"))
        layer = dict(res["layer"])
        for name, (value, _) in res["metrics"].items():
            layer[f"traced.{name}"] = value
        layer["trace.spans"] = float(len(tracer.spans))
        layer["host.cpu_steal_fraction"] = res["detail"]["host_steal_fraction"]
        metrics = {
            name: {"value": float(layer.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER.items()
        }
    else:
        metrics = {
            name: {"value": float(res["metrics"][name][0]), "unit": unit}
            for name, unit in END_TO_END.items()
        }
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(
            {"failures": res["failures"], "detail": res["detail"], "metrics": metrics},
            fh,
            indent=1,
        )
    for f in res["failures"]:
        print(f"FAILED: {f}", file=sys.stderr)
    summary = {
        "correct": not res["failures"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }
    sys.stdout.write(json.dumps(summary) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
