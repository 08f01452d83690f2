"""The batch workload: catalog entries run in whole passes.

One operation is one ``spec.builder(spark, dir)`` call plus its final
``noop`` action; both sit inside the timed region and the builder is rebuilt
every time.  Results are captured in the warm-up pass and compared with each
entry's DuckDB oracle after the timed region.
"""

from __future__ import annotations

import gc
import math
import statistics
import time

import duckdb
import pandas as pd
from hadoop_pyspark_streaming_analytics_spark.plans import CATALOG
from hadoop_pyspark_streaming_analytics_spark.sources.readers import TABLES

import datagen
import measure
from common import SETUPS, Result, Run

# Builder-dominated headline entries from ROADMAP D's table: eager pins,
# iterative loops and driver collects run inside the builder.
# dedup_ngram_jaccard is here because its traced split puts most of its wall
# in the builder.  embedding_semdedup, retrieval_hybrid_mmr_pipeline,
# ann_adc_refine_recall and corpus_dsir_sample are left out only to keep one
# run inside its time budget: a cold and a warm pass of all eight take 70 s
# on 4 cores.
BUILDER_HEAVY = (
    "dedup_components",
    "ann_ivf_pq_search_indexed",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
)
WORKLOADS = {"builder_heavy": BUILDER_HEAVY}

# 1% of the engine's scale-1 tables: 60k lineitem rows, 10k events,
# 500 documents and 500 embeddings.
SCALE = 0.01
# Nominal seconds of one warm pass on 4 cores.  The pass count is fixed from
# it, not from the clock, so every run times the same operations; counting
# passes by elapsed time made a slow run time half as many.
PASS_S = 7.5


def _specs(names):
    by_name = {s.name: s for s in CATALOG}
    return [by_name[n] for n in names]


def _passes(run: Run, specs, data: str, spans: measure.Spans, grouped: bool):
    """Run ``round(run.seconds / PASS_S)`` whole passes (at least one).

    Returns ([(name, builder_s, action_s)], failure messages).
    """
    spark = run.spark
    sc = spark.sparkContext
    ops, failed = [], []
    for _ in range(max(1, round(run.seconds / PASS_S))):
        pass_span = spans.open("pass")
        for spec in specs:
            i = len(ops) + len(failed)
            op_span = spans.open(f"op:{spec.name}", pass_span)
            df = None
            try:
                if grouped:
                    sc.setJobGroup(f"graftbench-plans-{i}", spec.name)
                w0, t0 = time.time(), time.perf_counter()
                df = spec.builder(spark, data)
                w1, t1 = time.time(), time.perf_counter()
                if grouped:
                    sc.setJobGroup(f"graftbench-operators-{i}", spec.name)
                df.write.format("noop").mode("overwrite").save()
                w2, t2 = time.time(), time.perf_counter()
                spans.add(f"plans:{spec.name}", w0, w1, op_span)
                spans.add(f"operators:{spec.name}", w1, w2, op_span)
                ops.append((spec.name, t1 - t0, t2 - t1))
            except Exception as e:  # a failed query is counted, not fatal
                failed.append(f"{spec.name}: {type(e).__name__}: {e}"[:300])
            spans.close(op_span)
            # Drop the plan so py4j releases its JVM handles and the cleaner
            # can reclaim pinned blocks before the next query.
            del df
            gc.collect()
        spans.close(pass_span)
    return ops, failed


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(float)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(got, want) -> str | None:
    """None when the frames hold the same rows, else what differs."""
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for c in got.columns:
        for g, w in zip(got[c].tolist(), want[c].tolist()):
            if pd.isna(g) and pd.isna(w):
                continue
            if isinstance(g, float) and isinstance(w, float):
                if not math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-9):
                    return f"column {c}: {g} != {w}"
            elif g != w:
                return f"column {c}: {g!r} != {w!r}"
    return None


def _check(specs, results: dict, data: str) -> dict[str, str]:
    """Compare each captured result with its DuckDB oracle."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        bad = {}
        for spec in specs:
            got = results[spec.name]
            if isinstance(got, str):
                bad[spec.name] = got
            elif spec.oracle is None:
                if got.empty:
                    bad[spec.name] = "no oracle and no rows"
            else:
                diff = _same(got, con.execute(spec.oracle).df())
                if diff:
                    bad[spec.name] = diff
        return bad
    finally:
        con.close()


def _end_to_end(ops) -> dict[str, float]:
    lat = [(b + a) * 1e3 for _, b, a in ops]
    tail, pct, n = measure.tail(lat)
    return {
        "latency_ms": statistics.median(lat),
        "latency_tail_ms": tail,
        "tail_percentile": pct,
        "samples": n,
        "throughput_per_s": len(ops) / (sum(lat) / 1e3),
    }


def run_batch(run: Run, names) -> Result:
    specs = _specs(names)
    res = Result()
    setups, starts = [], []
    for _ in range(SETUPS):
        s = run.start_session()
        t0 = time.perf_counter()
        data = run.fresh_dir("data")
        datagen.write_tables(data, run.seed, SCALE)
        setups.append(s + time.perf_counter() - t0)
        starts.append(s)

    # Warm-up at the measured scale; its results are the ones checked.
    results = {}
    t0 = time.perf_counter()
    for spec in specs:
        try:
            results[spec.name] = spec.builder(run.spark, data).toPandas()
        except Exception as e:
            results[spec.name] = f"{type(e).__name__}: {e}"[:300]
        gc.collect()
    warm_s = time.perf_counter() - t0

    rss = measure.PeakRss()
    rss.start()
    ops, failed = _passes(run, specs, data, measure.Spans(), grouped=False)
    rss.stop()

    bad = _check(specs, results, data)
    res.attempted = len(ops) + len(failed)
    res.failed = len(failed) + sum(1 for name, _, _ in ops if name in bad)
    res.mismatches = [f"{k}: {v}" for k, v in bad.items()] + failed
    e2e = _end_to_end(ops) if ops else {}
    res.metrics = {
        "setup_s": statistics.median(setups) + warm_s,
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
        "op_ms": {n: [round((b + a) * 1e3) for m, b, a in ops if m == n] for n in names},
    }
    if run.trace and ops:
        res.metrics.update(_traced(run, specs, data, e2e, starts))
    return res


def _traced(run: Run, specs, data: str, untraced: dict, starts) -> dict:
    """Repeat the timed passes in a session that writes the event log, with
    a job group around each builder call and each final action."""
    log_dir = run.fresh_dir("eventlog")
    run.start_session(extra=measure.event_log_conf(log_dir))
    spans = measure.Spans()
    ops, _ = _passes(run, specs, data, spans, grouped=True)
    run.stop_session()  # flushes the event log
    spans.write(f"{run.dir}.spans.json")

    def layer(job):
        group = measure.job_group(job) or ""
        return group.split("-")[1] if group.startswith("graftbench-") else "other"

    c = measure.layer_counters(measure.read_event_log(log_dir), layer)
    n = len(ops)
    builder = sum(b for _, b, _ in ops)
    action = sum(a for _, _, a in ops)
    traced = _end_to_end(ops)
    m = {"session.start_s": statistics.median(starts)}
    for lay in ("plans", "operators"):
        counters = c.get(lay, {})
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "result_bytes"):
            m[f"{lay}.{k}"] = counters.get(k, 0.0) / n
    plans, acts = c.get("plans", {}), c.get("operators", {})
    m.update(
        {
            "sources.input_bytes": (plans.get("input_bytes", 0) + acts.get("input_bytes", 0)) / n,
            "sources.input_records": (
                plans.get("input_records", 0) + acts.get("input_records", 0)
            ) / n,
            "plans.builder_s": builder / n,
            "plans.wall_share": builder / (builder + action),
            "plans.pin_count": plans.get("pin_count", 0) / n,
            "plans.pin_bytes": plans.get("pin_bytes", 0) / n,
            "operators.action_s": action / n,
            "operators.wall_share": action / (builder + action),
            "operators.shuffle_fetch_wait_s": acts.get("shuffle_fetch_wait_s", 0) / n,
            "operators.busy_share": acts.get("executor_run_s", 0) / (action * run.cores),
            "operators.task_skew": measure.task_skew(acts.get("stage_task_s", [])),
            "trace.span_coverage": (spans.total("plans:") + spans.total("operators:"))
            / spans.total("op:"),
            "trace.overhead_latency_ms": traced["latency_ms"] - untraced["latency_ms"],
            "trace.overhead_throughput_per_s": traced["throughput_per_s"]
            - untraced["throughput_per_s"],
        }
    )
    return m
