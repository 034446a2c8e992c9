#!/usr/bin/env python3
"""Steadiness check: run each workload in sets of runs, one seed per run,
and print each metric's median and quartiles per set, its spread (distance
between the quartiles as a share of the median) against the metric's bound,
and how far each later set's median moved from the first set's. With
--trace 1 it also prints the end-to-end medians of the traced runs; against
a --trace 0 set they give the tracing overhead.

    python3 perfbench/steady.py [--workloads registry,tail]
        [--runs 10] [--sets 2] [--trace 0] [--first-seed 1]

Run it from the repository root. Raw results go to perfbench/.out/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    t0 = time.monotonic()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return {"seed": seed, "wall_s": wall, "error": f"exit {r.returncode}"}
    # run.py's summary line on stderr carries the end-to-end figures, also
    # of traced runs, whose last line holds only per-layer metrics
    summary = [l for l in r.stderr.splitlines() if l.startswith('{"workload"')]
    return dict(json.loads(lines[-1]), seed=seed, wall_s=wall,
                summary=json.loads(summary[-1]) if summary else {})


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", default=None)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    kind = "per_layer" if args.trace else "end_to_end"
    bounds = {m["name"]: m.get("bound") for m in spec[kind]}
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    raw_path = os.path.join(HERE, ".out", f"steady-{int(time.time())}.json")
    raw = {}
    ok = True
    for w in workloads:
        sets = []
        for s in range(args.sets):
            seeds = [args.first_seed + s * args.runs + i for i in range(args.runs)]
            results = []
            for seed in seeds:
                res = run_once(w, seed, spec["run_seconds"], args.trace)
                results.append(res)
                print(f"{w} set {s + 1} seed {seed}: {res.get('error') or 'ok'} "
                      f"({res['wall_s']:.1f} s)", file=sys.stderr, flush=True)
            sets.append(results)
            raw[w] = sets
            with open(raw_path, "w") as f:
                json.dump(raw, f, indent=1)
        print(f"\n== {w}")
        for s, results in enumerate(sets):
            good = [r for r in results if "error" not in r]
            shares = sorted({r["failed"] / r["attempted"] for r in good})
            correct = all(r["correct"] for r in good)
            errors = len(results) - len(good)
            ok &= correct and not errors
            print(f"set {s + 1}: {len(good)} runs, {errors} errors, correct={correct}, "
                  f"failed shares {shares}, mean wall {statistics.mean(r['wall_s'] for r in results):.1f} s")
        first = None
        for name, bound in bounds.items():
            cells = []
            for s, results in enumerate(sets):
                xs = [r["metrics"][name]["value"] for r in results if "error" not in r]
                if not xs:
                    continue
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med if med else float("inf")
                cell = f"med {med:.4g} [{q1:.4g}, {q3:.4g}] spread {spread:.3f}"
                if bound is not None and name != "setup_s":
                    cell += " ok" if spread <= bound else " OVER"
                    ok &= spread <= bound
                if s == 0:
                    first = med
                elif first:
                    moved = (med - first) / first
                    cell += f" moved {moved:+.3f}"
                    if bound is not None:
                        ok &= abs(moved) <= bound
                cells.append(cell)
            print(f"{name:40s} bound {bound}: " + " | ".join(cells))
        if args.trace:
            for name in [m["name"] for m in spec["end_to_end"]]:
                xs = [r["summary"]["end_to_end"][name] for s in sets for r in s if r.get("summary")]
                if xs:
                    print(f"traced run, end-to-end {name}: median {statistics.median(xs):.4g}")
    print(f"\nraw results: {os.path.relpath(raw_path, ROOT)}")
    print("all within bounds" if ok else "NOT within bounds")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
