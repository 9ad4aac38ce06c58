#!/usr/bin/env python3
"""Steadiness check: run each workload repeatedly, one seed per run, and
print per end-to-end metric the median, the quartiles, the min-max range
and the spread (quartile distance over the median) against its bound.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1]
                                [--workload NAME ...] [--trace]

Run from the repository root. Reads the workloads, metrics, bounds and run
length from BENCHMARK.json; each run is `run.py` as the benchmark command
gives it. Raw results are appended as JSON lines to --out when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=names)
    ap.add_argument("--trace", action="store_true",
                    help="traced runs: report the per-layer metrics")
    ap.add_argument("--out", help="append each run's result here (JSON lines)")
    a = ap.parse_args()
    metrics = bench["per_layer"] if a.trace else bench["end_to_end"]
    ok = True
    for w in a.workload or names:
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + i
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", "1" if a.trace else "0"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}", file=sys.stderr)
                ok = False
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append(r)
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"workload": w, "seed": seed, **r}) + "\n")
            print(f"{w} seed {seed}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} " + " ".join(
                      f"{k}={v['value']:.6g}" for k, v in r["metrics"].items()),
                  file=sys.stderr)
        if not runs:
            continue
        bad = [r for r in runs if not r["correct"] or r["failed"]]
        print(f"\n{w}: {len(runs)} runs, {len(bad)} with a wrong output or a failed "
              f"operation, failed share "
              f"{sorted({r['failed'] / r['attempted'] for r in runs})}")
        ok = ok and not bad
        print(f"  {'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'min':>12} "
              f"{'max':>12} {'spread':>7} {'bound':>6}")
        for m in metrics:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("nan")
            bound = m.get("bound")
            flag = ""
            if bound is not None and m["name"] != "setup_s" and not spread <= bound / 3:
                flag = "  > bound/3"
            print(f"  {m['name']:28} {med:12.6g} {q1:12.6g} {q3:12.6g} {min(vals):12.6g} "
                  f"{max(vals):12.6g} {spread:7.3f} {bound if bound is not None else '':>6}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
