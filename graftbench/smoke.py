"""Smoke test for the benchmark's output contract.

    python3 graftbench/smoke.py [workload ...]

Runs each workload (default: all) once untraced and once traced with a
one-second budget and asserts that the last line of standard output names
every metric of BENCHMARK.json for that mode with its unit, that every value
is a finite number and that the outputs were correct.  Then copies only
BENCHMARK.json and the benchmark's own files into an empty directory inside
the checkout and asserts that the command fails there without printing a
result.  Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, spec: dict, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_output(spec: dict, workload: str, trace: int) -> None:
    p = _run(REPO, spec, workload, trace)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, sorted(out)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, out
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = out["metrics"]
    assert set(got) == set(wanted), f"missing {set(wanted) - set(got)}, extra {set(got) - set(wanted)}"
    for name, unit in wanted.items():
        assert got[name]["unit"] == unit, (name, got[name])
        assert isinstance(got[name]["value"], float) and math.isfinite(got[name]["value"]), (
            name, got[name])
    print(f"ok {workload} trace={trace}: {len(got)} metrics", flush=True)


def check_without_engine(spec: dict) -> None:
    bare = os.path.join(REPO, ".graftbench_work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(
                os.path.join(REPO, path), os.path.join(bare, path),
                ignore=shutil.ignore_patterns("__pycache__"),
            )
        p = _run(bare, spec, spec["workloads"][0]["name"], 0)
        assert p.returncode != 0, "benchmark succeeded without the engine"
        assert '"metrics"' not in p.stdout, p.stdout
        print(f"ok without engine: exit {p.returncode}", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace in (0, 1):
            check_output(spec, w, trace)
    check_without_engine(spec)


if __name__ == "__main__":
    main()
