"""Steadiness check: runs the benchmark on several seeds per workload and
prints, for each end-to-end metric, the median, the quartiles and the
spread (interquartile distance over the median) against the metric's
bound in BENCHMARK.json, plus the failed share of operations.

    python3 perfbench/steady.py --runs 10 [--workload NAME] [--first-seed 1]

Run it from the root of the checkout. Results also go to
perfbench/.work/steady-<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in a.workload or [x["name"] for x in spec["workloads"]]:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {p.returncode}")
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            res["named"] = json.loads(lines[-2]).get("named", {})
            runs.append(res)
            print(f"{w} seed {seed}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} "
                  f"run_cpu_s={res['metrics']['run_cpu_s']['value']:.2f} "
                  f"run_s={res['named']['run_s']:.2f} "
                  f"steal_s={res['named']['run_steal_s']:.2f}", flush=True)
        with open(os.path.join(HERE, ".work", f"steady-{w}.json"), "w") as f:
            json.dump(runs, f)
        shares = {r["failed"] / r["attempted"] for r in runs}
        print(f"\n{w}: all correct={all(r['correct'] for r in runs)}, "
              f"failed shares={sorted(shares)}")
        print(f"{'metric':16} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if spread <= bound / 3 else "  > bound/3"
            print(f"{name:16} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.4f} {bound:6.2f}{flag}")
        print()


if __name__ == "__main__":
    main()
