"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload avro_registry_drain --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Prints a report line (environment proof,
the named metrics, sample counts), then, as the last line, the result:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1).
Exits 1 when any output check fails, 2 when the run cannot complete.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from common import PACKAGE, ROOT, BenchError, Run, Tracer, isolate_environment, stop_session  # noqa: E402

STREAM = "avro_registry_drain"
BATCH = "batch_registry_sf0.1"


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def execute(run: Run) -> dict:
    if run.workload == BATCH:
        import bench_batch

        return bench_batch.run_workload(run)
    import bench_stream

    return bench_stream.run_workload(run)


def result_line(run: Run, out: dict, bench: dict) -> dict:
    key = "per_layer" if run.tracer.enabled else "end_to_end"
    source = out["layers"] if run.tracer.enabled else out["metrics"]
    unknown = set(source) - {m["name"] for m in bench[key]}
    if unknown:
        raise BenchError(f"metrics {sorted(unknown)} are not in BENCHMARK.json {key}")
    metrics = {}
    for m in bench[key]:
        if m["name"] not in source and not run.tracer.enabled:
            raise BenchError(f"end-to-end metric {m['name']} was not measured")
        # a per-layer metric reads 0 on workloads that do not run its layer
        value, unit = source.get(m["name"], (0, m["unit"]))
        if unit != m["unit"]:
            raise BenchError(f"{m['name']}: unit {unit!r} is not {m['unit']!r}")
        metrics[m["name"]] = {"value": value, "unit": unit}
    return {
        "correct": not out["problems"] and out["failed"] == 0,
        "attempted": max(1, out["attempted"]),
        "failed": out["failed"],
        "metrics": metrics,
    }


def trace_overhead(results: Path, workload: str, traced: dict) -> dict:
    """Traced minus untraced end-to-end metrics, against the last untraced
    run of this workload in this checkout."""
    base = results / f"{workload}.untraced.json"
    try:
        untraced = json.loads(base.read_text())["metrics"]
    except (OSError, ValueError, KeyError) as exc:
        return {"note": f"no untraced run of this workload to compare with ({exc.__class__.__name__})"}
    return {k: {"traced": v[0], "untraced": untraced[k][0], "delta_ratio": v[0] / untraced[k][0] - 1.0}
            for k, v in traced.items() if k in untraced and untraced[k][0]}


def save_report(run: Run, trace: int, out: dict, results: Path) -> dict:
    """Write the run's report (and, traced, its spans) under results/."""
    results.mkdir(parents=True, exist_ok=True)
    report = {"workload": run.workload, "seed": run.seed, "trace": trace, "environment": run.env,
              "named_metrics": out["named"], "checks": out["problems"][:20], **out["report"]}
    if run.tracer.enabled:
        report["trace_overhead"] = trace_overhead(results, run.workload, out["metrics"])
        run.tracer.dump(results / f"{run.workload}.spans.json",
                        {"report": report, "layers": out["layers"]})
    else:
        # written whole or not at all, so a killed run leaves no torn file
        tmp = results / f"{run.workload}.untraced.json.{os.getpid()}"
        tmp.write_text(json.dumps({"metrics": out["metrics"], "report": report}))
        os.replace(tmp, results / f"{run.workload}.untraced.json")
    return report


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(STREAM, BATCH))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not PACKAGE.is_dir():
        print(f"perfbench: package {PACKAGE.name} not found under {ROOT}", file=sys.stderr)
        return 2
    bench = spec()

    work_root = HERE / ".work"
    results = work_root / "results"
    run = Run(args.workload, args.seed, args.seconds, Tracer(bool(args.trace)), T_START,
              work_root / f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run.work, ignore_errors=True)
    isolate_environment(run)
    try:
        out = execute(run)
        line = result_line(run, out, bench)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    except Exception:  # a crash in any layer is a failed run, not a fast one
        traceback.print_exc()
        return 2
    finally:
        if run.spark is not None:
            stop_session(run)
        shutil.rmtree(run.work, ignore_errors=True)

    try:
        report = save_report(run, args.trace, out, results)
    except Exception:
        traceback.print_exc()
        return 2
    print(json.dumps({"report": report}))
    print(json.dumps(line))
    if not line["correct"]:
        print(f"perfbench: {line['failed']} of {line['attempted']} operations failed their check; "
              f"first problems: {out['problems'][:5]}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
