#!/usr/bin/env python3
"""Repo benchmark: batch extraction of a WARC crawl and of a PDF/scan tier.

    python3 perfbench/run.py --workload crawl_warc --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` runs the pass once untraced and
once traced, probes each layer, and prints the per-layer metrics (see
perfbench/README.md). The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; human-readable
lines precede it. Exits 2 without a result when the program is missing.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    from perfbench import bench

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(bench.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import pdf_extractor_spark.pipeline  # noqa: F401  the program itself
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    bench.isolate(run_dir)
    b = bench.Bench(args.workload, args.seed, args.seconds, run_dir)
    try:
        if args.trace:
            from perfbench.layers import run_traced

            metrics = run_traced(b)
            names = bench.PER_LAYER
        else:
            metrics = b.run_e2e()
            names = bench.END_TO_END
    finally:
        if b.spark is not None:
            from perfbench.procs import shutdown_spark

            shutdown_spark(b.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if sorted(metrics) != sorted(names):
        raise RuntimeError(f"metric set drifted: {sorted(set(metrics) ^ set(names))}")

    for p in b.problems[:20]:
        b.log(f"GATE: {p}")
    failed = len(b.problems)
    b.log(f"error_rate={failed / max(b.attempted, 1):.6f} "
          f"({failed} problems / {b.attempted} docs attempted)")
    for name in names:
        b.log(f"{name} = {metrics[name]:.6g} {names[name]}")
    b.log(f"process wall {time.perf_counter() - bench.PROC_START:.1f}s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(b.attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in names.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
