"""Measurement helpers: spans, process-tree memory, Spark event-log counters
and the summary statistics every workload reports.

Nothing here reaches into the engine.  Spans are recorded by the benchmark
around its own calls into the engine; counters come from Spark's JSON event
log, joined to the spans through the job group the benchmark sets around
each builder call and each final action.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict


# --- summary statistics -----------------------------------------------------


def tail(values: list[float]) -> tuple[float, int, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, samples).  Below twenty samples that
    percentile would not exceed the median, so the maximum is returned as
    percentile 100.
    """
    s = sorted(values)
    n = len(s)
    if n < 20:
        return s[-1], 100, n
    return s[n - 11], (100 * (n - 10)) // n, n


# --- spans ------------------------------------------------------------------


class Spans:
    """In-memory spans (name, start, end, parent), written once at exit."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        self.rows.append(
            {"id": len(self.rows), "name": name, "start": start, "end": end, "parent": parent}
        )
        return len(self.rows) - 1

    def open(self, name: str, parent: int | None = None) -> int:
        return self.add(name, time.time(), float("nan"), parent)

    def close(self, span_id: int) -> float:
        row = self.rows[span_id]
        row["end"] = time.time()
        return row["end"] - row["start"]

    def total(self, prefix: str) -> float:
        return sum(r["end"] - r["start"] for r in self.rows if r["name"].startswith(prefix))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.rows, f)


# --- process-tree memory ----------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids[ppid].append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    # Proportional set size: pages shared between processes (a JVM and a
    # child it has just forked, say) are split between them, not counted
    # twice.
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root: int) -> int:
    """Proportional resident memory of ``root`` and all its descendants."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:
            pass  # exited since it was listed
    return total


class PeakRss:
    """Samples the process tree's memory on a thread; ``peak`` holds the
    largest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
            self._thread = None
        self.peak = max(self.peak, tree_memory_bytes(os.getpid()))


# --- Spark event log --------------------------------------------------------


COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "result_bytes",
    "input_bytes",
    "input_records",
    "shuffle_fetch_wait_s",
    "pin_count",
    "pin_bytes",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def job_group(job_start: dict) -> str | None:
    return (job_start.get("Properties") or {}).get("spark.jobGroup.id")


def layer_counters(events: list[dict], layer_of_job) -> dict[str, dict]:
    """Sum task metrics per layer.

    ``layer_of_job`` maps a job-start event to a layer name; stages of no
    logged job fall under "other".  Jobs run one at a time in the
    benchmark's closed loop, so a block update is charged to the layer of the
    jobs running when it is logged.

    Returns {layer: {counter: value, "stage_task_s": [[task seconds]...]}}.
    """
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    stage_layer: dict[int, str] = {}
    running: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    pinned: dict[str, set] = defaultdict(set)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            layer = layer_of_job(e)
            running[e["Job ID"]] = layer
            out[layer]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_layer[sid] = layer
        elif kind == "SparkListenerJobEnd":
            running.pop(e["Job ID"], None)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            out[stage_layer.get(sid, "other")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            layer = stage_layer.get(sid, "other")
            m = e.get("Task Metrics") or {}
            c = out[layer]
            c["tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            stage_tasks[sid].append(run_ms / 1e3)
            c["executor_run_s"] += run_ms / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["result_bytes"] += m.get("Result Size", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            im = m.get("Input Metrics") or {}
            c["input_bytes"] += im.get("Bytes Read", 0)
            c["input_records"] += im.get("Records Read", 0)
        elif kind == "SparkListenerBlockUpdated":
            info = e.get("Block Updated Info") or {}
            block = str(info.get("Block ID", ""))
            size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
            if block.startswith("rdd_") and size > 0 and running:
                layer = next(iter(running.values()))
                pinned[layer].add(block.split("_")[1])
                out[layer]["pin_bytes"] += size
    for layer, rdds in pinned.items():
        out[layer]["pin_count"] = float(len(rdds))
    for sid, times in stage_tasks.items():
        layer = stage_layer.get(sid, "other")
        out[layer].setdefault("stage_task_s", []).append(times)
    return dict(out)


def task_skew(stage_task_s: list[list[float]]) -> float:
    """Median over stages of max / median task time (stages of 2+ tasks)."""
    ratios = [
        max(t) / statistics.median(t)
        for t in stage_task_s
        if len(t) > 1 and statistics.median(t) > 0
    ]
    return statistics.median(ratios) if ratios else 1.0
