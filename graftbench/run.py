"""Benchmark entry point.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the workload's inputs from the
seed, drives the engine through its public functions, checks every output and
prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` they
are its per-layer metrics, from a traced repeat of the timed region.
The line before it records the tail percentile, its sample count and the
per-layer metrics a workload does not exercise.

Exits 1 when an output is wrong and 2 when the engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from common import REPO, Run

WORKLOADS = ("builder_heavy", "sensor_stream")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    try:
        import hadoop_pyspark_streaming_analytics_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not found next to the benchmark: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if args.workload == "sensor_stream":
            from stream import run_stream

            res = run_stream(run)
        else:
            from batch import WORKLOADS as BATCH, run_batch

            res = run_batch(run, BATCH[args.workload])
    finally:
        run.close()

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, not_measured = {}, []
    for m in wanted:
        if m["name"] not in res.metrics:
            not_measured.append(m["name"])
        metrics[m["name"]] = {"value": float(res.metrics.get(m["name"], 0.0)), "unit": m["unit"]}
    for msg in res.mismatches:
        print(f"MISMATCH {msg}", file=sys.stderr)
    print(json.dumps({**res.notes, "not_measured": not_measured}))
    correct = res.attempted > 0 and res.failed == 0 and not res.mismatches
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
