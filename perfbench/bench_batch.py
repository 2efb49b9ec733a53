"""Batch workload: the registry's bench queries on seeded sf0.1 tables.

Set-up generates the tables, then runs every query once, concurrently,
writing its result to parquet: that pass warms the JVM and yields the
results checked against the DuckDB oracles. The timed part runs the
queries one after another, materialized through the noop sink, for at
least --seconds (whole passes).
"""

from __future__ import annotations

import sys
import time
from concurrent.futures import ThreadPoolExecutor

from common import ROOT, BenchError, peak_rss_mb, quantile, start_session
from gen_tables import TABLES, write_tables

SELF_CHECKED = ("minhash_near_dup", "ann_ivf_numpy_topk")  # no oracle: must repeat exactly


def _parity():
    """tools/parity.py, for its dtype-category check (int vs float and so on)."""
    sys.path.insert(0, str(ROOT / "tools"))
    try:
        import parity
    finally:
        sys.path.pop(0)
    return parity


def _canonical_sql(con, sql: str) -> str:
    """parity.py's canonical form, computed in DuckDB: columns sorted by
    name, floats rounded to 6 places (sign-aware, as text), rows compared
    as a multiset."""
    rel = con.sql(sql)
    exprs = []
    for col, ty in sorted(zip(rel.columns, map(str, rel.types))):
        q = '"' + col.replace('"', '""') + '"'
        value = f"round({q}, 6)" if ty in ("DOUBLE", "FLOAT", "REAL") else q
        exprs.append(f"CAST({value} AS VARCHAR) AS {q}")
    return f"SELECT {', '.join(exprs)} FROM ({sql})"


def diff_rows(con, sql_a: str, sql_b: str) -> str | None:
    """None when both results are equal under the canonical form."""
    a, b = con.sql(sql_a), con.sql(sql_b)
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} != {sorted(b.columns)}"
    ca, cb = _canonical_sql(con, sql_a), _canonical_sql(con, sql_b)
    only_a = con.execute(f"SELECT count(*) FROM (({ca}) EXCEPT ALL ({cb}))").fetchone()[0]
    only_b = con.execute(f"SELECT count(*) FROM (({cb}) EXCEPT ALL ({ca}))").fetchone()[0]
    if only_a or only_b:
        return f"{only_a} rows only in spark, {only_b} rows only in the reference"
    return None


def check_results(data_dir, res_dir, rerun_dir, specs: dict, dtypes: dict, failed_runs: set):
    import duckdb

    parity = _parity()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    problems = {}
    for name, spec in specs.items():
        if name in failed_runs:
            problems[name] = "query raised"
            continue
        spark_sql = f"SELECT * FROM read_parquet('{res_dir}/{name}/*.parquet')"
        if spec.oracle is None:
            problem = diff_rows(con, spark_sql, f"SELECT * FROM read_parquet('{rerun_dir}/{name}/*.parquet')")
            if problem:
                problems[name] = f"not deterministic across passes: {problem}"
            continue
        rel = con.sql(spec.oracle)
        bad_types = parity.type_mismatches(dtypes[name], rel.columns, [str(t) for t in rel.types])
        problem = (f"dtype category mismatch {bad_types}" if bad_types
                   else diff_rows(con, spark_sql, spec.oracle))
        if problem:
            problems[name] = problem
    return problems


def run_workload(run) -> dict:
    from kafka_stream_aggregator_spark.queries import REGISTRY
    from kafka_stream_aggregator_spark.tables import load_table

    get_spark_ms = start_session(run)
    spark = run.spark
    data = run.work / "sf0.1"
    res, rerun = run.work / "results", run.work / "rerun"
    t_gen = time.time()
    with run.tracer.span("gen_tables"):
        write_tables(str(data), run.seed)
    t_cold = time.time()
    specs = {n: s for n, s in REGISTRY.items() if s.bench}
    dtypes, raised = {}, set()

    def cold(name):
        try:
            df = specs[name].fn(spark, str(data))
            dtypes[name] = df.dtypes
            df.write.mode("overwrite").parquet(str(res / name))
        except Exception as exc:  # recorded as a failed query
            raised.add(name)
            print(f"perfbench: {name} raised {exc!r}", file=sys.stderr)

    with run.tracer.span("queries.cold_pass"), ThreadPoolExecutor(run.cpus) as pool:
        list(pool.map(cold, specs))
    t_due = time.time()

    if len(raised) == len(specs):
        raise BenchError("every query raised")
    timings: dict[str, list[float]] = {n: [] for n in specs if n not in raised}
    layers = {k: 0.0 for k in ("queries.build_ms", "catalyst.plan_ms", "queries.execute_ms")}
    sched = {"scheduler.jobs": 0, "scheduler.stages": 0, "scheduler.tasks": 0}
    sc = spark.sparkContext
    while True:
        for name in timings:
            t0 = time.time()
            if run.tracer.enabled:
                sc.setJobGroup(name, name)
                with run.tracer.span("queries.build", trace=name):
                    df = specs[name].fn(spark, str(data))
                t1 = time.time()
                with run.tracer.span("catalyst.plan", trace=name):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.time()
                with run.tracer.span("queries.execute", trace=name):
                    df.write.format("noop").mode("overwrite").save()
                t3 = time.time()
                layers["queries.build_ms"] += 1000 * (t1 - t0)
                layers["catalyst.plan_ms"] += 1000 * (t2 - t1)
                layers["queries.execute_ms"] += 1000 * (t3 - t2)
                tracker = sc.statusTracker()
                for job in tracker.getJobIdsForGroup(name):
                    sched["scheduler.jobs"] += 1
                    for stage in tracker.getJobInfo(job).stageIds:
                        info = tracker.getStageInfo(stage)
                        sched["scheduler.stages"] += 1
                        sched["scheduler.tasks"] += info.numTasks if info else 0
            else:
                specs[name].fn(spark, str(data)).write.format("noop").mode("overwrite").save()
            timings[name].append(1000.0 * (time.time() - t0))
        n_passes = len(next(iter(timings.values())))
        if time.time() - t_due >= run.seconds:
            break

    t_checked = time.time()
    for name in SELF_CHECKED:
        if name not in raised:
            specs[name].fn(spark, str(data)).write.mode("overwrite").parquet(str(rerun / name))
    with run.tracer.span("oracle_check"):
        problems_by_query = check_results(data, res, rerun, specs, dtypes, raised)

    per_query = {n: quantile(v, 0.5) for n, v in timings.items()}
    total_s = sum(per_query.values()) / 1000.0
    lat = list(per_query.values())
    rss = peak_rss_mb(spark)
    metrics = {
        "setup_s": (t_due - run.t_start, "s"),
        "throughput_per_s": (len(per_query) / total_s, "1/s"),
        "latency_p50_ms": (quantile(lat, 0.5), "ms"),
    }
    failed = len(problems_by_query)
    named = {
        "batch_total_s": (total_s, "s"),
        "query_p50_ms": (quantile(lat, 0.5), "ms"),
        "query_p90_ms": (quantile(lat, 0.9), "ms"),
        "failed_ratio": (failed / len(specs), "ratio"),
        "peak_rss_mb": (rss, "MB"),
        "setup_s": metrics["setup_s"],
    }
    layers_out = {}
    if run.tracer.enabled:
        fresh = spark.newSession()  # load_table memoizes per session object
        t0 = time.time()
        with run.tracer.span("tables.load_table"):
            for t in TABLES:
                load_table(fresh, str(data), t).schema
        layers_out["tables.load_table_ms"] = (1000.0 * (time.time() - t0), "ms")
        layers_out["session.get_spark_ms"] = (get_spark_ms, "ms")
        layers_out["memory.peak_rss_mb"] = (rss, "MB")
        layers_out.update({k: (v / n_passes, "ms") for k, v in layers.items()})
        layers_out.update({k: (v / n_passes, "count") for k, v in sched.items()})
    return {
        "metrics": metrics, "named": named, "layers": layers_out,
        "attempted": len(specs), "failed": failed,
        "problems": [f"{n}: {p}" for n, p in problems_by_query.items()],
        "report": {"queries": len(specs), "passes": n_passes,
                   "setup_phases_s": {"session_and_imports": t_gen - run.t_start,
                                      "gen_tables": t_cold - t_gen, "cold_pass": t_due - t_cold},
                   "timed_s": t_checked - t_due, "check_s": time.time() - t_checked,
                   "per_query_ms": {n: round(v, 1) for n, v in per_query.items()}},
    }
