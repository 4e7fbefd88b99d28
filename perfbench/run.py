#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl-polite --seed 1 --seconds 14 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, measures
for ``--seconds``, checks the program's outputs, and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}`` with every
end-to-end metric (``--trace 0``) or every per-layer metric (``--trace 1``)
listed in ``BENCHMARK.json``. Exits non-zero when a check fails.
``--size smoke`` runs a tiny version of the workload (the benchmark's own
tests use it). Scratch files live under ``.perfbench_work/`` and are
removed at exit; traced runs keep their spans under ``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl-wave", "crawl-polite", "analytics")


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    e2e_units, layer_units = _metric_specs()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's JVM and its Python workers inherit these: scratch stays in the
    # checkout, and workers can import the program.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        from perfbench.workloads import Run, run_analytics, run_crawl

        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.size, work)
        try:
            if args.workload == "analytics":
                e2e, layer = run_analytics(run)
            else:
                e2e, layer = run_crawl(run, polite=args.workload == "crawl-polite")
        finally:
            run.stop()
        if args.trace:
            run.tracer.write(os.path.join(
                ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.jsonl"
            ))
            # tracing overhead = these minus the untraced run's end-to-end values
            layer["traced.step_s_p50"] = e2e["step_s_p50"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = layer_units if args.trace else e2e_units
    values = layer if args.trace else e2e
    # a layer the workload never calls reports 0 work and 0 time
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    failed = len(run.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
