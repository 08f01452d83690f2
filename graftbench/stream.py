"""The sensor_stream workload: the Q4 trio over one JSON file source.

``running_sensor_stats`` and ``sliding_window_max`` feed ``ForeachBatchRun``
captures; ``tumbling_window_stats`` writes through
``foreach_batch_parquet_idempotent``.  One operation is one input file: it is
stamped when written, and its latency runs until the last of the three
queries has committed the micro-batch that read it.  The next file lands only
after every query is idle again, watermark-advancing no-data batches
included, so each run does the same triggers.  The final state of all three
queries is compared with the same builders run over every reading as a batch.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from datetime import datetime

from hadoop_pyspark_streaming_analytics_spark.monitoring import ProgressCollector
from hadoop_pyspark_streaming_analytics_spark.sources.readers import (
    SENSOR_SCHEMA,
    read_sensor_stream,
)
from hadoop_pyspark_streaming_analytics_spark.streaming.extensions import (
    foreach_batch_parquet_idempotent,
)
from hadoop_pyspark_streaming_analytics_spark.streaming.harness import ForeachBatchRun
from hadoop_pyspark_streaming_analytics_spark.streaming.queries import (
    running_sensor_stats,
    sliding_window_max,
    tumbling_window_stats,
    with_event_time,
)

import datagen
import measure
from common import SETUPS, Result, Run

ROWS_PER_FILE = 500
SENSORS = 20
MINUTES_PER_FILE = 1
WARMUP_FILES = 3
# Nominal seconds from landing one file to all queries idle on 4 cores; the
# file count is fixed from it so every run times the same files.
FILE_S = 2.5
IDLE_TIMEOUT_S = 60.0


class PhaseCollector(ProgressCollector):
    """Keeps every progress event as a dict, keyed by query id."""

    def __init__(self) -> None:
        super().__init__()
        self.progress: dict[str, list[dict]] = {}

    def onQueryProgress(self, event) -> None:  # noqa: N802
        super().onQueryProgress(event)
        p = json.loads(event.progress.json)
        self.progress.setdefault(p["id"], []).append(p)


def _end_time(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1e3


class SensorStream:
    """The three queries over one watched directory, stepped file by file."""

    def __init__(self, run: Run, spans: measure.Spans) -> None:
        spark = run.spark
        self.run = run
        self.watch = run.fresh_dir("watch")
        self.staging = run.fresh_dir("staging")
        self.sink_dir = os.path.join(run.fresh_dir("sink"), "tumbling")
        spark.conf.set("spark.sql.streaming.checkpointLocation", run.fresh_dir("checkpoints"))
        self.collector = PhaseCollector()
        spark.streams.addListener(self.collector)
        self.files = 0
        self.rows = 0
        self.sink_s: list[float] = []

        write = foreach_batch_parquet_idempotent(self.sink_dir)

        def timed_write(batch_df, batch_id: int) -> None:
            w0 = time.time()
            write(batch_df, batch_id)
            self.sink_s.append(time.time() - w0)
            spans.add(f"sinks.write:{batch_id}", w0, time.time())

        stream = with_event_time(read_sensor_stream(spark, self.watch))
        self.running = ForeachBatchRun(spark, running_sensor_stats(stream))
        self.sliding = ForeachBatchRun(spark, sliding_window_max(stream))
        self.tumbling = (
            tumbling_window_stats(stream)
            .writeStream.outputMode("update")
            .foreachBatch(timed_write)
            .start()
        )
        self.queries = [self.running.query, self.sliding.query, self.tumbling]

    def _idle(self) -> None:
        """Block until every query has read all rows landed so far and has
        finished its follow-up batches."""
        deadline = time.time() + IDLE_TIMEOUT_S
        for q in self.queries:
            while True:
                q.processAllAvailable()
                last = q.lastProgress
                seen = self.collector.progress.get(q.id, [])
                if last is not None and (not seen or seen[-1]["batchId"] < last["batchId"]):
                    time.sleep(0.001)  # listener event still in flight
                elif sum(p["numInputRows"] for p in seen) == self.rows:
                    break
                if time.time() > deadline:
                    raise TimeoutError(f"query {q.id} did not commit file {self.files - 1}")

    def step(self, seed: int) -> tuple[float, float, list[dict]]:
        """Land one file and wait for idle.  Returns (stamp, idle time,
        the progress events the file caused)."""
        rows = datagen.sensor_file_rows(seed, self.files, ROWS_PER_FILE, SENSORS, MINUTES_PER_FILE)
        name = f"readings_{self.files:05d}.json"
        # Written beside the watched directory and renamed into it, so the
        # source never lists a file that is still being written.
        staged = os.path.join(self.staging, name)
        with open(staged, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        before = {q.id: len(self.collector.progress.get(q.id, [])) for q in self.queries}
        stamp = time.time()
        os.rename(staged, os.path.join(self.watch, name))
        self.files += 1
        self.rows += len(rows)
        self._idle()
        done = time.time()
        caused = [
            p for q in self.queries for p in self.collector.progress.get(q.id, [])[before[q.id]:]
        ]
        return stamp, done, caused

    def stop(self) -> None:
        for q in self.queries:
            q.stop()
        self.run.spark.streams.removeListener(self.collector)

    def check(self) -> list[str]:
        """Final streamed state vs the same builders over all readings."""
        spark = self.run.spark
        batch = with_event_time(spark.read.schema(SENSOR_SCHEMA).json(self.watch))

        def latest(batches, keys):
            state = {}
            for _, rows in sorted(batches, key=lambda b: b[0]):
                for r in rows:
                    d = r.asDict()
                    state[tuple(d[k] for k in keys)] = d
            return state

        def want(df, keys):
            return {tuple(r[k] for k in keys): r.asDict() for r in df.collect()}

        tumbling: dict[int, list] = {}
        for r in spark.read.parquet(self.sink_dir).collect():
            tumbling.setdefault(r["batch_id"], []).append(r)
        tumbling = list(tumbling.items())
        pairs = [
            ("running_sensor_stats", self.running.batches, running_sensor_stats(batch),
             ["sensor_id"]),
            ("sliding_window_max", self.sliding.batches, sliding_window_max(batch),
             ["window_start", "sensor_id"]),
            ("tumbling_window_stats", tumbling, tumbling_window_stats(batch), ["window_start"]),
        ]
        bad = []
        for name, batches, df, keys in pairs:
            got, exp = latest(batches, keys), want(df, keys)
            if got.keys() != exp.keys():
                bad.append(f"{name}: {len(got)} keys streamed, {len(exp)} in batch")
                continue
            for k, row in exp.items():
                for col, v in row.items():
                    g = got[k][col]
                    same = (
                        math.isclose(g, v, rel_tol=1e-9, abs_tol=1e-9)
                        if isinstance(v, float) and isinstance(g, float)
                        else g == v
                    )
                    if not same:
                        bad.append(f"{name} {k} {col}: streamed {g!r}, batch {v!r}")
                        break
        return bad

    def sink_files(self) -> tuple[int, int]:
        files = size = 0
        for root, _, names in os.walk(self.sink_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        return files, size


def _measure(stream: SensorStream, run: Run, spans: measure.Spans):
    """Land ``round(run.seconds / FILE_S)`` files (at least one); returns
    per-file (latency_s, stamp, done, progress events)."""
    out = []
    for _ in range(max(1, round(run.seconds / FILE_S))):
        stamp, done, caused = stream.step(run.seed)
        data = [p for p in caused if p["numInputRows"] > 0]
        commit = max(_end_time(p) for p in data)
        file_span = spans.add(f"file:{stream.files - 1}", stamp, done)
        for p in caused:
            spans.add(f"trigger:{p['id'][:8]}:{p['batchId']}", _end_time(p)
                      - p["durationMs"].get("triggerExecution", 0) / 1e3, _end_time(p), file_span)
        out.append((commit - stamp, stamp, done, caused))
    return out


def _e2e(files) -> dict:
    lat = [f[0] * 1e3 for f in files]
    tail, pct, n = measure.tail(lat)
    busy = sum(done - stamp for _, stamp, done, _ in files)
    return {
        "latency_ms": statistics.median(lat),
        "latency_tail_ms": tail,
        "tail_percentile": pct,
        "samples": n,
        "throughput_per_s": len(files) * ROWS_PER_FILE / busy,
    }


def _session(run: Run, master: str | None = None, extra: dict | None = None) -> float:
    # State-store partitions are fixed when a query first starts.  One per
    # core: at 500 rows a file the per-partition cost of each trigger
    # dominates, and 8 partitions on 4 cores ran 25% slower than 4.
    return run.start_session(master, extra, shuffle_partitions=run.cores)


def _warm(run: Run, spans: measure.Spans) -> tuple[SensorStream, float]:
    t0 = time.perf_counter()
    stream = SensorStream(run, spans)
    for _ in range(WARMUP_FILES):
        stream.step(run.seed)
    return stream, time.perf_counter() - t0


def run_stream(run: Run) -> Result:
    res = Result()
    spans = measure.Spans()
    # Readings are generated file by file as they land, so a set-up here is
    # the session start alone.
    starts = [_session(run) for _ in range(SETUPS)]
    stream, warm_s = _warm(run, spans)
    rss = measure.PeakRss()
    rss.start()
    files = []
    try:
        files = _measure(stream, run, spans)
    except TimeoutError as e:
        res.mismatches.append(str(e))
    rss.stop()
    stream.stop()
    res.mismatches += stream.check()
    res.attempted = len(files) + (1 if files == [] else 0)
    res.failed = res.attempted if res.mismatches else 0
    e2e = _e2e(files) if files else {}
    res.metrics = {
        "setup_s": statistics.median(starts) + warm_s,
        "latency_ms": e2e.get("latency_ms", 0.0),
        "latency_tail_ms": e2e.get("latency_tail_ms", 0.0),
        "throughput_per_s": e2e.get("throughput_per_s", 0.0),
        "peak_rss_mb": rss.peak / 2**20,
    }
    res.notes = {
        "tail_percentile": e2e.get("tail_percentile"),
        "tail_samples": e2e.get("samples"),
        "warmup_s": round(warm_s, 3),
        "session_start_s": starts,
    }
    if run.trace and files and not res.mismatches:
        res.metrics.update(_traced(run, e2e, starts))
    return res


def _traced(run: Run, untraced: dict, starts: list[float]) -> dict:
    """A fresh stream in a session writing the event log, then the same
    stream once more at ``local[1]`` as the single-thread baseline."""
    log_dir = run.fresh_dir("eventlog")
    _session(run, extra=measure.event_log_conf(log_dir))
    spans = measure.Spans()
    stream, _ = _warm(run, spans)
    t_measure, mark = time.time(), len(stream.sink_s)
    files = _measure(stream, run, spans)
    stream.stop()
    sink_files, sink_bytes = stream.sink_files()
    sink_s, landed = stream.sink_s[mark:], stream.files
    run.stop_session()
    spans.write(f"{run.dir}.spans.json")

    def layer(job):
        return "measured" if job["Submission Time"] / 1e3 >= t_measure else "warmup"

    log = measure.read_event_log(log_dir)
    counters = measure.layer_counters(log, layer).get("measured", {})
    progress = [p for f in files for p in f[3]]
    n = len(files)
    triggers = len(progress)

    def per_file(key):
        return sum(p["durationMs"].get(key, 0) for p in progress) / n

    def state(key, ps):
        return sum(s.get(key, 0) for p in ps for s in p.get("stateOperators", []))

    last = {p["id"]: p for p in progress}.values()
    traced = _e2e(files)
    _session(run, master="local[1]")
    stream, _ = _warm(run, measure.Spans())
    local1 = _e2e(_measure(stream, run, measure.Spans()))
    stream.stop()
    covered = 0.0
    for _, stamp, done, caused in files:
        triggers_run = [
            (_end_time(p) - p["durationMs"].get("triggerExecution", 0) / 1e3, _end_time(p))
            for p in caused
        ]
        covered += _union(triggers_run, stamp, done) / (done - stamp)
    return {
        "session.start_s": statistics.median(starts),
        "sources.input_bytes": counters.get("input_bytes", 0) / n,
        "sources.input_records": counters.get("input_records", 0) / n,
        "sources.latest_offset_ms": per_file("latestOffset"),
        "streaming.triggers_per_file": triggers / n,
        "streaming.data_trigger_share": sum(p["numInputRows"] > 0 for p in progress) / triggers,
        "streaming.add_batch_ms": per_file("addBatch"),
        "streaming.query_planning_ms": per_file("queryPlanning"),
        "streaming.wal_commit_ms": per_file("walCommit"),
        "streaming.commit_offsets_ms": per_file("commitOffsets"),
        "streaming.get_batch_ms": per_file("getBatch"),
        "streaming.tasks_per_trigger": counters.get("tasks", 0) / triggers,
        "streaming.state_commit_ms": state("commitTimeMs", progress) / n,
        "streaming.state_rows": state("numRowsTotal", last),
        "streaming.state_memory_bytes": state("memoryUsedBytes", last),
        "streaming.state_rows_dropped": state("numRowsDroppedByWatermark", progress),
        "streaming.state_rows_removed": state("numRowsRemoved", progress) / n,
        "streaming.local1_latency_ms": local1["latency_ms"],
        "sinks.write_s": sum(sink_s) / n,
        "sinks.files_written": sink_files / landed,
        "sinks.bytes_written": sink_bytes / landed,
        "trace.span_coverage": covered / n,
        "trace.overhead_latency_ms": traced["latency_ms"] - untraced["latency_ms"],
        "trace.overhead_throughput_per_s": traced["throughput_per_s"]
        - untraced["throughput_per_s"],
    }


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total
