"""Shared pieces of the benchmark: the run context, the Spark session with
its environment proof, the span recorder and small statistics helpers."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "kafka_stream_aggregator_spark"
DRIVER_MEMORY = "2g"


class BenchError(RuntimeError):
    """A run that cannot produce a valid result (a crash, a stalled
    stream). The runner reports it as failed, never as a fast run."""


class Tracer:
    """In-memory spans: name, start, end, parent span, trace id (one per
    micro-batch or query). Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name, start, end, trace="setup", parent=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "trace": str(trace), "attrs": attrs,
        })
        return sid

    @contextmanager
    def span(self, name, trace="setup", parent=None, **attrs):
        t0 = time.time()
        try:
            yield
        finally:
            self.add(name, t0, time.time(), trace, parent, **attrs)

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, **extra}))


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    tracer: Tracer
    t_start: float
    work: Path
    cpus: int = field(default_factory=lambda: len(os.sched_getaffinity(0)))
    spark: object = None
    env: dict | None = None


def quantile(values, q: float) -> float:
    """Inclusive-method quantile (q in (0, 1)); a single value is its own."""
    vals = sorted(values)
    if len(vals) == 1:
        return float(vals[0])
    cuts = statistics.quantiles(vals, n=100, method="inclusive")
    return float(cuts[round(q * 100) - 1])


def iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def isolate_environment(run: Run) -> None:
    """Keep every file the run writes inside the checkout, and make the
    package importable by Spark's Python workers."""
    tmp = run.work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the spark-submit launcher included: temp files under the
    # run's directory, no perf-data file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(run.cpus)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(run: Run, cpus: int | None = None):
    """``session.get_spark`` on local[nproc] with driver memory, scratch
    dirs and worker import path set explicitly (the factory's defaults are
    local[32] and 48g)."""
    from kafka_stream_aggregator_spark.session import get_spark

    n = cpus or run.cpus
    tmp = run.work / "tmp"
    extra = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(tmp / "spark-local"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.sql.warehouse.dir": str(run.work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    with run.tracer.span("session.get_spark", cpus=n):
        t0 = time.time()
        spark = get_spark("perfbench", cpus=n, shuffle_partitions=n, extra=extra)
        get_spark_ms = 1000.0 * (time.time() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    if run.env is None:
        run.env = environment(spark, run.cpus)
    return get_spark_ms


def stop_session(run: Run) -> None:
    """Stop Spark and wait for its JVM to exit; the JVM ends when the pipe
    to its stdin closes. Never raises: a JVM that already died (its stop
    calls fail) or that hangs on exit is still reaped, and the run's own
    error, if any, stays the one reported."""
    from pyspark import SparkContext

    try:
        run.spark.stop()
    except Exception as exc:
        print(f"perfbench: stopping Spark failed: {exc!r}", file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        gateway.shutdown()
    except Exception as exc:
        print(f"perfbench: closing the Py4J gateway failed: {exc!r}", file=sys.stderr)
    proc = gateway.proc
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            print("perfbench: the Spark JVM did not exit within 60 s; killing it", file=sys.stderr)
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def environment(spark, cpus: int) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "nproc": cpus,
        "spark_version": spark.version,
        "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
    }


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise BenchError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python driver process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0
