#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the repository root.

  python3 perfbench/selftest.py seeds
      The same seed gives the same input row counts and golden sizes on
      every workload, and another seed changes them.

  python3 perfbench/selftest.py compare [--runs 10] [--workloads a,b]
      Two sets of runs (seeds 1..N, then N+1..2N) per workload; prints each
      end-to-end metric's median and quartile spread per set and fails if a
      spread (setup_s excepted) exceeds the metric's bound in
      BENCHMARK.json, or the second median is worse than the first by more
      than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_seeds() -> int:
    sys.path.insert(0, ROOT)
    import harness as H
    from workloads import WORKLOADS, build_inputs

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    spark = H.start_session(work)
    bad = 0
    try:
        for name in WORKLOADS:
            sizes = []
            for seed in (1, 1, 2):
                inp = build_inputs(spark, name, seed,
                                   H.fresh_dir(os.path.join(work, "in")))
                sizes.append((
                    spark.read.parquet(inp.transcripts).count(), inp.turns,
                    spark.read.parquet(inp.golden).count(), inp.golden_triples))
            same = sizes[0] == sizes[1] and sizes[0][0] == sizes[0][1] \
                and sizes[0][2] == sizes[0][3]
            differs = sizes[0] != sizes[2]
            bad += not (same and differs)
            print(f"{name:14s} seed 1 {sizes[0]}, again {sizes[1]}, "
                  f"seed 2 {sizes[2]}: "
                  f"{'ok' if same and differs else 'FAIL'}")
    finally:
        H.stop_session(spark)
        H.fresh_dir(work)
    return 1 if bad else 0


def run_once(workload: str, seed: int, seconds: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n"
                           f"{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def compare(runs: int, workloads: list[str] | None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    names = workloads or [w["name"] for w in bench["workloads"]]
    bad = 0
    for wl in names:
        sets = []
        for s in range(2):
            vals: dict[str, list[float]] = {}
            for seed in range(s * runs + 1, (s + 1) * runs + 1):
                t0 = time.monotonic()
                res = run_once(wl, seed, bench["run_seconds"])
                bad += not res["correct"]
                shown = ", ".join(f"{k} {v['value']:.4g}"
                                  for k, v in res["metrics"].items())
                print(f"{wl} set {s + 1} seed {seed}: "
                      f"{time.monotonic() - t0:.1f} s, correct {res['correct']}; "
                      f"{shown}", flush=True)
                for k, v in res["metrics"].items():
                    vals.setdefault(k, []).append(v["value"])
            sets.append(vals)
        for name, m in metrics.items():
            (a1, m1, b1), (a2, m2, b2) = (quartiles(sets[0][name]),
                                          quartiles(sets[1][name]))
            s1, s2 = (b1 - a1) / m1, (b2 - a2) / m2
            worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
            ok = worse <= m["bound"] and (
                name == "setup_s" or max(s1, s2) <= m["bound"])
            bad += not ok
            print(f"{wl:14s} {name:12s} n={runs} median [q1, q3] "
                  f"{m1:.5g} [{a1:.5g}, {b1:.5g}] / {m2:.5g} [{a2:.5g}, {b2:.5g}] "
                  f"{m['unit']}, spread {s1:.3f} / {s2:.3f}, second worse by "
                  f"{worse:+.3f}, bound {m['bound']}: {'ok' if ok else 'FAIL'}",
                  flush=True)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("seeds")
    c = sub.add_parser("compare")
    c.add_argument("--runs", type=int, default=10)
    c.add_argument("--workloads", type=lambda s: s.split(","))
    args = ap.parse_args()
    if args.cmd == "seeds":
        return check_seeds()
    return compare(args.runs, args.workloads)


if __name__ == "__main__":
    sys.exit(main())
