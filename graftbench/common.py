"""Run context shared by the workloads: where the run writes, how the Spark
session is started, and the result every workload returns."""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(REPO, ".graftbench_work")

# Set-ups per run; ``setup_s`` reports their median.
SETUPS = 3


@dataclass
class Result:
    """What a workload measured.  ``metrics`` maps metric name -> value."""

    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)


class Run:
    """One benchmark invocation: its seed, its time budget and a private
    work directory inside the checkout, removed when the run ends."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.dir = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        self._n = 0
        self.spark = None
        os.makedirs(os.path.join(self.dir, "tmp"), exist_ok=True)
        # Keep every file Spark, the JVM and Python write inside the checkout,
        # and keep the caller's environment from changing the engine's setup.
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        for var in ("SPARK_MASTER", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
            os.environ.pop(var, None)

    def fresh_dir(self, name: str) -> str:
        self._n += 1
        path = os.path.join(self.dir, f"{name}-{self._n}")
        os.makedirs(path)
        return path

    def start_session(
        self,
        master: str | None = None,
        extra: dict | None = None,
        shuffle_partitions: int | None = None,
    ) -> float:
        """Stop the current session, if any, and start the engine's session
        on ``master`` (default ``local[<cores>]``).  Returns the seconds
        ``get_spark`` took."""
        from hadoop_pyspark_streaming_analytics_spark.session import get_spark

        self.stop_session()
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # A fixed-size heap: a heap that grows on demand gave peak
            # memory readings 35% apart on identical runs.
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": (
                f"-Xms1g -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            **(extra or {}),
        }
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"graftbench-{self.workload}",
            master=master or f"local[{self.cores}]",
            shuffle_partitions=shuffle_partitions,
            extra_conf=conf,
        )
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def stop_session(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, end the JVM and wait for it, remove the files."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
        shutil.rmtree(self.dir, ignore_errors=True)
