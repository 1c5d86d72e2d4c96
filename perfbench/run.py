#!/usr/bin/env python3
"""Benchmark of the KG-construction path: extraction, linking,
canonicalization and staged materialization (`run_pipeline`), then the
profile battery (`build_profiles`) over the written graph table.

Run from the repository root:

  python3 perfbench/run.py --workload kg_ascii --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics, --trace 1 runs the traced variant
(traced.py) and prints the per-layer metrics. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Metric names, units and workloads are documented in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")   # removed after each run
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")     # span dumps are kept

SETUP_REPEATS = 2   # input builds per run; setup_s takes their median
MIN_TIMED = 3       # timed passes, even when they overrun the window

E2E_UNITS = {
    "setup_s": "s",
    "pipeline_s": "s",
    "turns_per_s": "turns/s",
    "profile_s": "s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def program_missing() -> str | None:
    """Why the program under test cannot be imported, or None."""
    sys.path.insert(0, ROOT)
    try:
        import kgsum_spark.pipeline  # noqa: F401
        import kgsum_spark.profile  # noqa: F401
    except ImportError as e:
        return str(e)
    return None


def summary(values: list[float]) -> dict:
    """Median, quartiles and sample count of one metric's samples."""
    q1 = q3 = values[0]
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "n": len(values)}


def run_untraced(args, work: str) -> tuple[dict, int, int]:
    import harness as H
    from workloads import build_inputs

    t0 = time.perf_counter()
    spark = H.start_session(work)
    session_s = time.perf_counter() - t0
    try:
        builds = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            inputs = build_inputs(spark, args.workload, args.seed,
                                  H.fresh_dir(os.path.join(work, "inputs")))
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        run = H.Passes(spark, inputs, work)
        for _ in range(H.WARMUP_PASSES):
            run.one_pass(record=False)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(builds) + warm_s

        deadline = time.perf_counter() + args.seconds
        timed = 0
        while timed < MIN_TIMED or time.perf_counter() < deadline:
            run.one_pass(record=True)
            timed += 1
        rss = H.peak_rss_mb(spark)
    finally:
        H.stop_session(spark)

    print(f"# {args.workload} seed {args.seed}: {inputs.turns} turns, "
          f"{inputs.golden_triples} golden triples, {timed} timed passes; "
          f"session {session_s:.2f} s, input builds "
          f"{', '.join(f'{b:.2f}' for b in builds)} s, warm-up {warm_s:.2f} s; "
          f"pipeline passes {', '.join(f'{p:.2f}' for p in run.samples['pipeline_s'])} s; "
          f"profiles {', '.join(f'{p:.2f}' for p in run.samples['profile_s'])} s")
    samples = {**run.samples, "setup_s": [setup_s], "peak_rss_mb": [rss],
               "ok_ratio": [1 - run.failed / run.attempted]}
    metrics = {}
    for name, unit in E2E_UNITS.items():
        if samples[name]:
            s = summary(samples[name])
            print(f"# {name:12s} {s['median']:.6g} {unit}  "
                  f"(q1 {s['q1']:.6g}, q3 {s['q3']:.6g}, n={s['n']})")
            metrics[name] = {"value": s["median"], "unit": unit}
    return metrics, run.attempted, run.failed


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = program_missing()
    if missing:
        print(f"perfbench: cannot import the program under test from {ROOT}: "
              f"{missing}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        if args.trace:
            from traced import run_traced

            os.makedirs(OUT_ROOT, exist_ok=True)
            out = os.path.join(OUT_ROOT, f"trace-{args.workload}-seed{args.seed}.json")
            metrics, attempted, failed = run_traced(args, work, out)
        else:
            metrics, attempted, failed = run_untraced(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
