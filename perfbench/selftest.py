"""Fast self-test of the benchmark itself, at a tiny input size.

    python3 perfbench/selftest.py

Runs the streaming workload traced on a few thousand trades and checks
that (1) every metric it produces has the name and unit that
BENCHMARK.json lists, for both the end-to-end and the per-layer sets,
(2) the window check fails when one emitted EWMA is off by 1e-6, and
(3) dropped_ratio equals the injected bad-record share. The batch
workload's names pass through the same checks on every run.
Exits 0 when all pass.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import bench_stream  # noqa: E402
import trades as tr  # noqa: E402
from common import Run, Tracer, isolate_environment, stop_session  # noqa: E402
from run import result_line, spec  # noqa: E402


def check(name: str, ok: bool, failures: list) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {name}")
    if not ok:
        failures.append(name)


def main() -> int:
    bench = spec()
    failures: list[str] = []
    work = HERE / ".work" / f"selftest-{os.getpid()}"
    run = Run("avro_registry_drain", 1, 1, Tracer(True), time.time(), work)
    isolate_environment(run)
    try:
        out = bench_stream.run_workload(run)
    finally:
        if run.spark is not None:
            stop_session(run)
        shutil.rmtree(work, ignore_errors=True)
    check("outputs pass their own checks", not out["problems"] and not out["failed"], failures)

    for key, traced in (("end_to_end", False), ("per_layer", True)):
        run.tracer.enabled = traced
        line = result_line(run, out, bench)
        check(f"{key} names and units match BENCHMARK.json",
              [(k, v["unit"]) for k, v in line["metrics"].items()]
              == [(m["name"], m["unit"]) for m in bench[key]], failures)

    emitted, reference, wm = out["windows"]
    inst, wend, n_rows, ewma = emitted[len(emitted) // 2]
    perturbed = list(emitted)
    perturbed[len(emitted) // 2] = (inst, wend, n_rows, ewma + 1e-6)
    _, failed, _ = tr.check_windows(perturbed, reference, wm)
    check("an EWMA off by 1e-6 fails the window check", failed == 1, failures)

    offered = out["report"]["offered_records"]
    injected = sum(out["report"]["injected_bad_records"].values())
    got = out["named"]["dropped_ratio"][0]
    check(f"dropped_ratio {got:.6f} == injected share {injected / offered:.6f}",
          injected > 0 and got == injected / offered, failures)
    print("selftest", "FAILED: " + ", ".join(failures) if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
