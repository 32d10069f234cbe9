#!/usr/bin/env python3
"""Steadiness report: repeats the benchmark and prints, per workload
and end-to-end metric, the median, the quartiles and the spread (the
distance between the quartiles as a share of the median) against the
metric's bound in BENCHMARK.json, plus failed_frac. With --traced N it
also runs N traced runs on one seed and lists the per-layer metrics
that repeat exactly.

    python3 graftbench/steady.py                     # 10 seeds per workload
    python3 graftbench/steady.py --runs 5 --workloads dedup --traced 2

Run it from the root of the checkout; raw results go to graftbench/work/.
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


def one(bench, workload, seed, trace):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed}: exit code {out.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    raw = {}
    worst = 0.0
    for w in workloads:
        runs = [one(bench, w, args.first_seed + i, 0) for i in range(args.runs)]
        raw[w] = {"untraced": runs}
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        print(f"\n== {w}: {len(runs)} runs, seeds {args.first_seed}.."
              f"{args.first_seed + args.runs - 1}, run wall {min(r['wall_s'] for r in runs):.0f}"
              f"-{max(r['wall_s'] for r in runs):.0f} s")
        print(f"{'metric':<18}{'unit':<7}{'median':>11}{'q1':>11}{'q3':>11}"
              f"{'spread':>9}{'bound':>8}  verdict")
        for name, m in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
            spread = (q3 - q1) / q2 if q2 else float("inf")
            if name != "setup_s":
                worst = max(worst, spread / m["bound"])
            verdict = ("steady (< bound/3)" if spread < m["bound"] / 3 else
                       "within bound" if spread <= m["bound"] else "TOO NOISY")
            print(f"{name:<18}{m['unit']:<7}{q2:>11.4f}{q1:>11.4f}{q3:>11.4f}"
                  f"{spread:>9.3f}{m['bound']:>8.2f}  {verdict}")
        print(f"{'failed_frac':<18}{'1':<7}{failed / max(1, attempted):>11.4f}"
              f"   ({failed} failed of {attempted} executions)")
        if args.traced:
            traced = [one(bench, w, args.first_seed, 1) for _ in range(args.traced)]
            raw[w]["traced"] = traced
            names = traced[0]["metrics"]
            exact = [k for k in names
                     if len({t["metrics"][k]["value"] for t in traced}) == 1]
            print(f"per-layer metrics identical over {args.traced} traced runs of seed "
                  f"{args.first_seed}:")
            for k in exact:
                print(f"  {k} = {names[k]['value']:g} {names[k]['unit']}")
            over = [t["metrics"]["trace.overhead_pct"]["value"] for t in traced]
            print(f"tracing overhead on pass_s: {', '.join(f'{o:+.1f}%' for o in over)}")
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    path = os.path.join(HERE, "work", f"steady-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(raw, f)
    print(f"\nworst spread/bound (setup_s excluded): {worst:.2f}; raw results in {path}")


if __name__ == "__main__":
    main()
