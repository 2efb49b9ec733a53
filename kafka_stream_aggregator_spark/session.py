"""SparkSession factory.

Defaults are tuned so the same code is correct on local[N] (tests/bench)
and sane on a large cluster: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), shuffle partitions sized to the
parallelism at hand, UTC session time zone (determinism for the DuckDB
oracle), Arrow enabled for the pandas-UDF slow path. Python workers run
under ``_pyworker`` (see its docstring) with this package on their path.
``file:`` paths go through a Hadoop local file system that starts no
``chmod`` / ``readlink`` subprocess (``jvm/``; ENGINE.md "Run / verify /
measure").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Read by tables.load_table for events.parquet (TIMESTAMP(NANOS) column);
# safe to set dynamically on any session.
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

WORKER_PYTHONPATH_CONF = "spark.executorEnv.PYTHONPATH"
# the directory that holds this package, so workers can import it
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER_CLASSPATH_CONF = "spark.driver.extraClassPath"
# built by tools/build_forkless_fs_jar.py from jvm/src
FORKLESS_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "forkless-localfs.jar"
)
FORKLESS_FS_CONFS = {
    "spark.hadoop.fs.file.impl": "kafkastreamaggregator.fs.ForklessLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "kafkastreamaggregator.fs.ForklessLocalFs",
}


def _first_then(first: str, caller_value: str | None) -> str:
    paths = [first, *(caller_value or "").split(os.pathsep)]
    return os.pathsep.join(dict.fromkeys(p for p in paths if p))


def worker_pythonpath(caller_value: str | None) -> str:
    """The package's parent directory first, then the caller's entries in
    their order, each path once."""
    return _first_then(_PACKAGE_PARENT, caller_value)


def driver_classpath(caller_value: str | None) -> str:
    """The forkless file system's jar first, then the caller's entries in
    their order, each path once."""
    return _first_then(FORKLESS_FS_JAR, caller_value)


def _jvm_loads_forkless_fs() -> bool:
    """Whether the JVM this process drives can load the forkless file
    system: none runs yet, so ``get_spark`` launches it with the jar on its
    class path; or the running one (launched by an earlier ``get_spark``)
    has the classes. A JVM started another way (a vanilla SparkContext, or
    the one behind $PYSPARK_GATEWAY_PORT) may lack them; it keeps stock
    Hadoop."""
    from py4j.protocol import Py4JJavaError
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is None:
        return "PYSPARK_GATEWAY_PORT" not in os.environ
    try:
        for cls in FORKLESS_FS_CONFS.values():
            jvm.java.lang.Class.forName(cls)
    except Py4JJavaError:
        return False
    return True


def prefer_sort_merge_join(value: str | None) -> bool:
    """$SPARK_GRAFT_PREFER_SMJ: only 1 / true / yes (any case) select it."""
    return (value or "").strip().lower() in ("1", "true", "yes")


def get_spark(
    app_name: str = "kafka_stream_aggregator_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32. On a
    real cluster you would drop ``.master`` and let the submitter decide;
    every other conf below still applies.
    """
    n = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Round-12 (guide §3.1/§9): let the planner pick shuffled-hash
        # join when the per-partition build side fits (canBuildLocalHashMap
        # bounds it by autoBroadcastJoinThreshold x shuffle partitions) —
        # skips the sort on both sides. Interleaved A/B at sf5 (min-of-4,
        # one JVM): q3 1.93->1.30s, q10 2.10->1.81, join_inner 1.82->1.61,
        # q5 2.36->2.24; no regression at sf0.1. Broadcast still wins
        # first; AQE skew splitting stays on; SMJ remains the fallback
        # whenever the build side ESTIMATE is large. Failure mode to
        # know (ADVICE r12): SHJ's build-side hash map cannot spill, so
        # the guard is only as good as Catalyst's size estimates — a
        # misestimated build side after selective filters can OOM an
        # executor at scale. Set SPARK_GRAFT_PREFER_SMJ=1 to restore
        # the always-spillable sort-merge default; skew/oversized-build
        # plan evidence lives in plans/r13/shj_* + tests/test_plans.py.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            "true"
            if prefer_sort_merge_join(os.environ.get("SPARK_GRAFT_PREFER_SMJ"))
            else "false",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config(NANOS_CONF, "true")
        # 128 MB parquet split target: big enough to amortize task overhead
        # at 100 TB (≈800k tasks), small enough to fit executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.python.daemon.module", "kafka_stream_aggregator_spark._pyworker")
    )
    extra = dict(extra or {})
    extra[WORKER_PYTHONPATH_CONF] = worker_pythonpath(extra.get(WORKER_PYTHONPATH_CONF))
    if _jvm_loads_forkless_fs():
        extra[DRIVER_CLASSPATH_CONF] = driver_classpath(extra.get(DRIVER_CLASSPATH_CONF))
        extra = {**FORKLESS_FS_CONFS, **extra}
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
